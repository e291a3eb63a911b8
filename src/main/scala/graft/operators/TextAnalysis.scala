package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Gated
import graft.functions._
import graft.functions.RollingHash.rollingHash
import graft.sources.Tables._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token statistics, quality scoring, marker-based language ID, and
  * document fingerprinting. All per-document computation lowers to
  * Catalyst built-ins / higher-order functions (plus the codegen'd
  * [[graft.functions.RollingHash]] expression) — embarrassingly parallel
  * at 100 TB with no shuffle except the final presentation sort.
  */
object TextAnalysis {

  /** Shared with [[Pipeline.pipeE2e]]'s quality stage. */
  val stopwordList = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  private val stopwords = stopwordList
  private val enMarkers = Seq("the", "a", "of")
  private val deMarkers = Seq("der", "die", "und")
  private val esMarkers = Seq("el", "la", "los")

  private def toks = tokens(col("text"))

  /** Session-scoped cache of the tokenized corpus `(doc_id, t)` — ONE
    * row per document (zero-token docs keep an empty array), `t` the
    * whitespace token array every corpus-statistics gate re-derived
    * from `text` per run. This is the pipeline's tokenized-corpus
    * artifact (the relation `pipe_tokenize` exists to produce, here in
    * raw-whitespace form): tf-idf, unigram/bigram scoring, Simpson
    * diversity, BM25 and the TextRank pair rollup all start from
    * exactly this relation, and before this memo each paid its own
    * corpus-wide regex tokenize — BM25 twice (corpus stats + postings
    * passes). Values are identical by construction (the same `tokens`
    * expression over the same scan, checkpointed once), so every
    * oracle mirror is unchanged; row count equals the documents row
    * count, so `n_docs` aggregates read the cache too. Lifetime
    * guards live in [[Artifacts]].
    */
  private[graft] val cachedTokRel = Artifacts.declare("tokrel")((s, d) =>
    // lang rides along (one small string per doc) so slice-conditioned
    // consumers (cp_importance's target flag) need no join back
    documents(s, d).select(col("doc_id"), col("lang"), toks.as("t")))

  /** Per-document token counts: whitespace tokens, non-space chars,
    * average token length.
    */
  def taTokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).as("n_nospace"),
        // explicit empty-doc guard: Spark's /0 yields NULL but DuckDB's
        // yields NaN — an aligned CASE keeps both engines at NULL
        when(size(toks) > 0,
          length(regexp_replace(col("text"), "\\s+", "")).cast(DoubleType) /
            size(toks)).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val taTokenStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INTEGER) AS n_tokens,
      |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INTEGER) AS n_nospace,
      |  CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > 0
      |       THEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |            / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
      |  END AS avg_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality score over a token-array column: stopword ratio (fluency
    * proxy) blended with a length prior. The SINGLE definition of the
    * formula — [[taQuality]] reports it and [[Pipeline.pipeE2e]] filters
    * by it, so a weight tweak cannot drift the two apart. NaN/null on
    * empty docs; callers guard with `size(toks) > 0`.
    */
  def qualityScore(toksCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = size(toksCol)
    val hits = size(filter(toksCol, t => t.isInCollection(stopwordList)))
    hits.cast(DoubleType) / n * lit(0.5) +
      least(n.cast(DoubleType) / lit(200.0), lit(1.0)) * lit(0.5)
  }

  /** DuckDB mirror of [[qualityScore]] over a token-list expression. */
  def qualityScoreSql(t: String): String = {
    val stopList = stopwordList.map(w => s"'$w'").mkString("(", ",", ")")
    s"CAST(len(list_filter($t, x -> x IN $stopList)) AS DOUBLE) / len($t) * 0.5" +
      s" + least(CAST(len($t) AS DOUBLE) / 200.0, 1.0) * 0.5"
  }

  /** Quality report: stopword ratio plus the blended [[qualityScore]] —
    * the length/punct/stopword-ratio family of heuristic quality
    * filters used to pre-filter web corpora.
    */
  def taQuality(s: SparkSession, d: String): DataFrame = {
    val nTok = size(toks)
    val stopHits = size(filter(toks, t => t.isInCollection(stopwords)))
    documents(s, d)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        stopHits.as("n_stop"),
        when(nTok > 0, stopHits.cast(DoubleType) / nTok).as("stop_ratio"),
        when(nTok > 0, qualityScore(toks)).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val taQualitySql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val stopList = stopwordList.map(w => s"'$w'").mkString("(", ",", ")")
    val hitsSql = s"len(list_filter($toksSql, x -> x IN $stopList))"
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
       |  CAST($hitsSql AS INTEGER) AS n_stop,
       |  CASE WHEN len($toksSql) > 0
       |       THEN CAST($hitsSql AS DOUBLE) / len($toksSql) END AS stop_ratio,
       |  CASE WHEN len($toksSql) > 0
       |       THEN ${qualityScoreSql(toksSql)}
       |  END AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Marker-word language ID: count per-language marker hits, predict the
    * argmax (ties resolved en > de > es, deterministic). An n-gram
    * heuristic classifier over Catalyst higher-order functions — no UDF.
    */
  def taLangid(s: SparkSession, d: String): DataFrame = {
    def hits(ws: Seq[String]) = size(filter(toks, t => t.isInCollection(ws)))
    val (en, de, es) = (hits(enMarkers), hits(deMarkers), hits(esMarkers))
    documents(s, d)
      .select(
        col("doc_id"), col("lang").as("actual_lang"),
        en.as("en_hits"), de.as("de_hits"), es.as("es_hits"),
        when(en >= de && en >= es, "en")
          .when(de >= es, "de").otherwise("es").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  val taLangidSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    def hits(ws: Seq[String]) =
      s"len(list_filter($toksSql, x -> x IN ${ws.map(w => s"'$w'").mkString("(", ",", ")")}))"
    val (en, de, es) = (hits(enMarkers), hits(deMarkers), hits(esMarkers))
    s"""SELECT doc_id, lang AS actual_lang,
       |  CAST($en AS INTEGER) AS en_hits,
       |  CAST($de AS INTEGER) AS de_hits,
       |  CAST($es AS INTEGER) AS es_hits,
       |  CASE WHEN $en >= $de AND $en >= $es THEN 'en'
       |       WHEN $de >= $es THEN 'de' ELSE 'es' END AS pred_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprints: MD5 of normalized text (exact-dedup key) and
    * the codegen'd polynomial rolling hash.
    */
  def taFingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        rollingHash(col("text")).as("fp_roll"))
      .orderBy(col("doc_id"))

  val taFingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(trim(text))) AS fp_md5,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** GPT-style pre-tokenizer regex, restricted to the RE2-safe subset
    * (no lookahead — DuckDB's regex engine is RE2): contraction tails,
    * space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs. Java and RE2 agree on `\p{L}`/`\p{N}` classes and
    * leftmost-first alternation, so counts match across engines.
    */
  val BpeTokenRegex: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token counting, whitespace AND BPE-ish: the subword-aware token
    * count a training pipeline budgets by, next to the whitespace count
    * quality heuristics use. Pure map-side regex — no shuffle.
    */
  def taBpeTokens(s: SparkSession, d: String): DataFrame = {
    val bpe = size(filter(
      regexp_extract_all(col("text"), lit(BpeTokenRegex), lit(0)),
      t => !t.rlike("^\\s+$"))) // whitespace runs are separators, not tokens
    val ws = size(toks)
    documents(s, d)
      .select(
        col("doc_id"),
        ws.as("n_ws_tokens"),
        bpe.as("n_bpe_tokens"),
        when(ws > 0, bpe.cast(DoubleType) / ws).as("bpe_per_ws"))
      .orderBy(col("doc_id"))
  }

  val taBpeTokensSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val rxSql = BpeTokenRegex.replace("'", "''") // SQL string-literal quoting
    val bpeSql = "len(list_filter(regexp_extract_all(text, " +
      s"'$rxSql'), t -> NOT regexp_matches(t, '^\\s+$$')))"
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS INTEGER) AS n_ws_tokens,
       |  CAST($bpeSql AS INTEGER) AS n_bpe_tokens,
       |  CASE WHEN len($toksSql) > 0
       |       THEN CAST($bpeSql AS DOUBLE) / len($toksSql) END AS bpe_per_ws
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Text normalization pass: lowercase, trim, collapse whitespace —
    * the canonical pre-dedup cleanup stage.
    */
  def taNormalize(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm_text"),
        length(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("norm_len"))
      .orderBy(col("doc_id"))

  val taNormalizeSql: String =
    """SELECT doc_id,
      |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
      |  CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS INTEGER) AS norm_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Repetition scoring (the Gopher-style repetitiousness filters):
    * duplicate-word fraction and most-common-2-gram fraction per
    * document. Highly repetitive documents (boilerplate, scraped spam,
    * generation loops) score high on both and get filtered before
    * training. ZERO data shuffles: the statistics are doc-local, so
    * the one-pass native [[graft.functions.RepetitionStatsExpr]] (a
    * per-row hash map) replaces the explode → groupBy(doc_id, term)
    * formulation, which shuffled every token of the corpus twice to
    * compute what a single scan sees (measured 5.5s vs 1.8s on 50k
    * docs; the HOF shingle form before that was O(tokens²) at 7.7s for
    * 5k). The shuffled wordcount shape remains correct for
    * CROSS-document term stats; within-document stats never need it.
    */
  /** Frame-parametric core: append `n_words`, `n_distinct_words`,
    * `dup_word_frac`, `n_grams`, `top_gram_frac` for a text column —
    * one projection, so codegen subexpression elimination computes the
    * stats struct once per row across the references. Shared by the
    * gated [[taRepetition]] and `graft.api.Corpus.repetitionScored` —
    * the ONE definition of the derived fractions.
    */
  def repetitionScored(df: DataFrame, text: String = "text"): DataFrame = {
    val st = graft.functions.RepetitionStatsExpr.repetitionStats(col(text))
    df.withColumn("n_words", st.getField("n_words"))
      .withColumn("n_distinct_words", st.getField("n_distinct_words"))
      .withColumn("dup_word_frac",
        when(st.getField("n_words") > 0,
          (st.getField("n_words") - st.getField("n_distinct_words"))
            .cast(DoubleType) / st.getField("n_words")))
      .withColumn("n_grams", st.getField("n_grams"))
      .withColumn("top_gram_frac",
        when(st.getField("n_grams") > 0,
          st.getField("top_gram_n").cast(DoubleType) /
            st.getField("n_grams")))
  }

  def taRepetition(s: SparkSession, d: String): DataFrame =
    repetitionScored(documents(s, d))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("dup_word_frac"), col("n_grams"), col("top_gram_frac"))
      .orderBy(col("doc_id"))

  val taRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |words AS (
      |  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct_words
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w) t
      |  GROUP BY doc_id),
      |tokl AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |  FROM documents),
      |grams0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(l) - 1 + 1),
      |    i -> l[i] || ' ' || l[i + 1])) AS g
      |  FROM tokl WHERE len(l) >= 2),
      |grams AS (
      |  SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS top_gram_n
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams0 GROUP BY doc_id, g) t
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(w.n_words, 0) AS BIGINT) AS n_words,
      |  CAST(COALESCE(w.n_distinct_words, 0) AS BIGINT) AS n_distinct_words,
      |  CASE WHEN w.n_words > 0
      |       THEN CAST(w.n_words - w.n_distinct_words AS DOUBLE) / w.n_words
      |  END AS dup_word_frac,
      |  CAST(COALESCE(g.n_grams, 0) AS BIGINT) AS n_grams,
      |  CASE WHEN g.n_grams > 0
      |       THEN CAST(g.top_gram_n AS DOUBLE) / g.n_grams
      |  END AS top_gram_frac
      |FROM documents d
      |LEFT JOIN words w ON d.doc_id = w.doc_id
      |LEFT JOIN grams g ON d.doc_id = g.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Per-doc top-5 terms by tf-idf. The idf uses the smoothed RATIO
    * `(N+1)/(df+1)` with no logarithm: `ln` is not guaranteed
    * correctly-rounded (libm vs DuckDB may differ in the last ulp and
    * break the cross-engine hash), while cast/divide/multiply are all
    * IEEE-exact-rounded, so this score is bit-identical across engines
    * — and induces the same ranking as the log form (log is
    * monotonic). Shape: tf = one map-side-combined groupBy; df = a
    * second groupBy over the (already small) tf relation; idf table
    * broadcast. At 100 TB the vocabulary may exceed the broadcast
    * threshold — the join key (term) is the tf relation's own grouping
    * key, so the fallback shuffle join reuses tf's partitioning.
    */
  def taTfidf(s: SparkSession, d: String): DataFrame =
    tfidfTopTermsFromToks(cachedTokRel(s, d))
      .orderBy(col("doc_id"), col("rnk"))

  /** Frame-parametric core of [[taTfidf]]: per-doc top-`topK` terms by
    * tf-idf over ANY `(doc_id, text)` frame — shared by the gated query
    * and the `graft.api.Corpus.tfidfTopTerms` facade.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 5): DataFrame =
    tfidfTopTermsFromToks(docs.select(col("doc_id"), toks.as("t")), topK)

  /** [[tfidfTopTerms]] from an already-tokenized `(doc_id, t)` frame —
    * the gated query passes [[cachedTokRel]] (one row per doc, so the
    * `n_docs` count is unchanged).
    */
  private def tfidfTopTermsFromToks(tokRel: DataFrame,
      topK: Int = 5): DataFrame = {
    val tf = tokRel
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = tokRel.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast(DoubleType) *
          ((col("n_docs").cast(DoubleType) + 1.0) /
            (col("df").cast(DoubleType) + 1.0))).as("tfidf"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))).cast(LongType))
      .filter(col("rnk") <= topK)
  }

  val taTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) *
      |      ((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked
      |WHERE rnk <= 5
      |ORDER BY doc_id, rnk""".stripMargin

  /** Unigram-frequency document score — the cheap CCNet-style quality
    * proxy: how "ordinary" a document's vocabulary is under the
    * corpus's own unigram distribution. Per doc: token count, the sum
    * of each token's corpus frequency (exact integers end to end), and
    * their ratio (ONE division of two exact integers — IEEE-identical
    * across engines, no log, no running double sum). Low mean_freq =
    * rare-vocabulary doc (jargon, noise, other-language); high = stock
    * phrasing. Shape: one groupBy(term) for counts, a term-keyed join
    * that reuses that aggregation's partitioning, one groupBy(doc_id)
    * with map-side partials. Token-less docs produce no row (nothing
    * to score).
    */
  def taUnigramScore(s: SparkSession, d: String): DataFrame =
    unigramScoredFromToks(cachedTokRel(s, d)).orderBy(col("doc_id"))

  /** Frame-parametric core of [[taUnigramScore]] over ANY
    * `(doc_id, text)` frame.
    */
  def unigramScored(docs: DataFrame): DataFrame =
    unigramScoredFromToks(docs.select(col("doc_id"), toks.as("t")))

  /** [[unigramScored]] from an already-tokenized `(doc_id, t)` frame —
    * the gated query passes [[cachedTokRel]].
    */
  private def unigramScoredFromToks(toksRel: DataFrame): DataFrame = {
    val tokRel = toksRel.select(col("doc_id"), explode(col("t")).as("term"))
    val cnt = tokRel.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    tokRel.join(cnt, "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("freq_sum"))
      .select(col("doc_id"), col("n_tokens"), col("freq_sum"),
        (col("freq_sum").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("mean_freq"))
  }

  val taUnigramScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(cnt) AS BIGINT) AS freq_sum,
      |  CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_freq
      |FROM toks JOIN cnt USING (term)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // ta_bigram_score — corpus bigram-coherence scoring.
  // ---------------------------------------------------------------------

  /** Bigram-coherence score: for each document, the pooled conditional
    * probability of its adjacent word pairs under the corpus's own
    * bigram model — the second-order extension of [[taUnigramScore]]
    * and the log-free stand-in for the KenLM-perplexity filter (CCNet's
    * quality signal): natural prose repeats the corpus's word
    * TRANSITIONS, while shuffled/machine-generated/keyword-stuffed text
    * matches its unigrams but not its bigrams and scores low.
    *
    * `coherence = Σ C₂(w₁w₂) / Σ C₁(w₁)` over the doc's bigram
    * positions, where C₂ is the corpus count of the pair and C₁ the
    * corpus count of the prefix as a bigram-opener — a RATIO OF
    * INTEGER SUMS, deliberately not the mean of per-pair ratios: both
    * engines sum exact integers in any order and divide once, where a
    * float-per-pair sum would depend on partition accumulation order
    * (the same IEEE-exactness discipline as [[taTfidf]]'s log-free
    * idf). Docs with fewer than two tokens have no bigram positions
    * and drop out (none exist in this corpus).
    *
    * Scale shape: the pair relation is map-side (array zip + explode,
    * no shuffle); the two count tables aggregate with map-side
    * partials on fixed-width keys; the joins back are hash equi-joins
    * on (w1, w2)/(w1) — the wordcount shape at bigram granularity,
    * linear in corpus bytes. Stop-pair skew (e.g. "of the") is
    * bounded by partial aggregation exactly as `mr_wordcount`'s hot
    * words are.
    */
  /** The gate serves the corpus transition model (the `(w1,w2)` and
    * opener count tables — THE bigram language model) from the session
    * cache: training-data scorers apply a frozen corpus model to every
    * doc, and rebuilding it per run re-paid two corpus-wide
    * aggregations the suite's other runs had already done. Values are
    * identical by construction (same counts over the same scan).
    */
  def taBigramScore(s: SparkSession, d: String): DataFrame =
    bigramScoredFromPairs(bigramPairRelFromToks(cachedTokRel(s, d)),
      bigramCounts(s, d), bigramContexts(s, d)).orderBy(col("doc_id"))

  private val bigramCounts = Artifacts.declare("bigram_c2")((s, d) =>
    bigramPairRelFromToks(cachedTokRel(s, d))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))

  private val bigramContexts = Artifacts.declare("bigram_c1")((s, d) =>
    bigramPairRelFromToks(cachedTokRel(s, d))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1")))

  /** The exploded `(doc_id, w1, w2)` adjacent-pair relation (shared
    * with [[GraphRank]]'s co-occurrence graph).
    */
  private[operators] def bigramPairRel(docs: DataFrame): DataFrame =
    bigramPairRelFromToks(docs.select(col("doc_id"), toks.as("t")))

  /** [[bigramPairRel]] from an already-tokenized `(doc_id, t)` frame —
    * the gated bigram/TextRank builds pass [[cachedTokRel]].
    */
  private[operators] def bigramPairRelFromToks(toksRel: DataFrame): DataFrame =
    toksRel
    .withColumn("__t", col("t"))
    .withColumn("__p", expr(
      """zip_with(slice(__t, 1, greatest(size(__t) - 1, 0)),
        |         slice(__t, 2, greatest(size(__t) - 1, 0)),
        |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin))
    .select(col("doc_id"), explode(col("__p")).as("p"))
    .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Frame-parametric core of [[taBigramScore]] over ANY
    * `(doc_id, text)` frame: trains the model in-plan.
    */
  def bigramScored(docs: DataFrame): DataFrame = {
    val pairRel = bigramPairRel(docs)
    bigramScoredWith(docs,
      pairRel.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
      pairRel.groupBy(col("w1")).agg(count(lit(1)).as("c1")))
  }

  /** Score a corpus against a given transition model. */
  def bigramScoredWith(docs: DataFrame, big: DataFrame,
      ctx: DataFrame): DataFrame =
    bigramScoredFromPairs(bigramPairRel(docs), big, ctx)

  /** [[bigramScoredWith]] from an already-built pair relation. */
  private def bigramScoredFromPairs(pairRel: DataFrame, big: DataFrame,
      ctx: DataFrame): DataFrame = {
    pairRel
      .join(big, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2")).as("big_freq_sum"),
        sum(col("c1")).as("ctx_freq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        col("big_freq_sum"), col("ctx_freq_sum"),
        (col("big_freq_sum").cast(DoubleType) /
          col("ctx_freq_sum").cast(DoubleType)).as("coherence"))
  }

  val taBigramScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |pr AS (
      |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(t)),
      |            i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
      |        FROM toks WHERE len(t) >= 2) raw),
      |big AS (SELECT w1, w2, COUNT(*) AS c2 FROM pr GROUP BY 1, 2),
      |ctx AS (SELECT w1, COUNT(*) AS c1 FROM pr GROUP BY 1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(c2) AS BIGINT) AS big_freq_sum,
      |  CAST(SUM(c1) AS BIGINT) AS ctx_freq_sum,
      |  CAST(CAST(SUM(c2) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(SUM(c1) AS BIGINT) AS DOUBLE) AS coherence
      |FROM pr JOIN big USING (w1, w2) JOIN ctx USING (w1)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // ta_bpe_train — BPE merge-table induction over the corpus.
  // ---------------------------------------------------------------------

  /** Number of merges the gated query learns. A production vocab runs
    * the same loop to 30k–100k; each round is one vocabulary-sized
    * aggregation, so the gate's 10 certify the loop, not the budget.
    */
  val BpeTrainMerges = 10

  /** BPE vocabulary induction (Sennrich et al. 2016): learn the first
    * [[BpeTrainMerges]] merge rules from the corpus — the TRAINING side
    * of the tokenizer whose application [[taBpeTokens]] stands in for.
    * Each round counts adjacent symbol pairs weighted by word
    * frequency, merges the most frequent pair everywhere (ties broken
    * lexicographically), and repeats. Output: one row per learned rule
    * `(rank, left, right, merged, freq)`.
    *
    * Scale shape — why this is a 100 TB job and not a driver script:
    * the ONE corpus-sized pass is the initial wordcount; after it the
    * working relation is the DISTINCT vocabulary with counts (the
    * classic BPE collapse — ~10⁷ rows for a 100 TB corpus), and every
    * round is a map-side pair explode + one partial-aggregated shuffle
    * over that vocabulary, `localCheckpoint`ed per round to cut the
    * 10-deep lineage. The per-round `.collect()` is ONE row — the
    * learned merge, a model parameter like [[Similarity]]'s k-means
    * centroids, never data.
    *
    * Exact-greedy trick shared with the oracle: symbol sequences live
    * as DOUBLE-space-delimited strings (`" l  o  w "`), so one pass of
    * standard non-overlapping `replace(s, " l  o ", " lo ")` IS
    * greedy left-to-right BPE merging in both engines — each pair
    * pattern consumes one space of each boundary, so back-to-back
    * occurrences (`a a a a` → `aa aa`, never `aa a a`) merge exactly
    * as the sequential algorithm does. Single-space delimiting would
    * NOT (the shared middle space makes replace skip every second
    * occurrence). Words are restricted to `[A-Za-z0-9]+` so the
    * symbol alphabet never collides with the delimiters and both
    * engines' regex/char semantics agree.
    */
  def taBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeMergeTable(s, d).orderBy(col("rank"))

  /** The learned merge table `(rank, left, right, merged, freq)` per
    * corpus — the BPE analog of the IVF-centroid / BM25-postings model
    * artifacts: training runs once per session, and the consumers
    * collect the [[BpeTrainMerges]]-row frame on use.
    */
  private val bpeMergeTable = Artifacts.declare("bpemerges")((s, d) =>
    bpeMerges(documents(s, d), BpeTrainMerges))

  private[operators] def trainedMerges(s: SparkSession,
      d: String): Seq[(Int, String, String, String, Long)] =
    bpeMergeTable(s, d).collect().toSeq
      .sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  /** Frame-parametric core of [[taBpeTrain]] over ANY `(doc_id, text)`
    * frame — the form `graft.api.Corpus.bpeMerges` exposes. EXACT
    * sequential-greedy semantics, but internally BATCHED: each Spark
    * round learns every merge of the maximal ranked prefix that is
    * provably what sequential greedy would pick (see
    * [[bpeMergesBatched]]), so the driver-round count drops below the
    * merge count whenever the top of the pair ranking is
    * symbol-disjoint — with bit-identical output (spec-pinned against
    * the one-merge-per-round reference on randomized tie-heavy
    * corpora; the DuckDB oracle unrolls exact sequential stages).
    */
  def bpeMerges(docs: DataFrame, n: Int = BpeTrainMerges): DataFrame =
    bpeMergesBatched(docs, n, exact = true, BpeMaxMergesPerRound)

  /** The PRODUCTION-SCALE trainer: standard batched greedy ("take the
    * top-m pairwise symbol-disjoint merges per round"), which SKIPS
    * conflicting candidates instead of stopping at them, so every
    * round learns up to `maxPerRound` merges regardless of how the top
    * of the ranking shares symbols. This is the classic large-vocab
    * BPE batching: the learned table can deviate from exact sequential
    * greedy order where a skipped (symbol-sharing) candidate's count
    * would have survived the earlier merges — in practice the same
    * merge inventory a few ranks shuffled — in exchange for cutting
    * the 30k–100k driver rounds a real tokenizer train would cost to
    * n/maxPerRound. Amortized per-merge cost ≈ (one vocabulary-sized
    * pair count + one vocabulary rewrite) / batch, laddered in
    * SCALING.md — MEASURED to saturation at the 100× corpus (r11):
    * 3290 merges in 61.8 s / 335 rounds (18.8 ms/merge, FALLING with
    * depth as the pair inventory shrinks), with a monotone
    * corpus-token quality curve; the trainer stops itself when no
    * candidate clears the count floor, so deeper vocabularies are a
    * corpus-richness question, not a wall-clock one.
    * `bpeMergesDisjoint(docs, n, 1)` degenerates to exact sequential
    * (spec-pinned).
    */
  def bpeMergesDisjoint(docs: DataFrame, n: Int,
      maxPerRound: Int = BpeMaxMergesPerRound,
      qualityFrac: Double = BpeBatchQualityFrac): DataFrame =
    bpeMergesBatched(docs, n, exact = false, maxPerRound, qualityFrac)

  /** Merges learned per Spark round in the batched trainers — bounds
    * driver memory (the candidate collect is a small multiple of this,
    * tiny rows) and the per-round replace-chain depth (codegen handles
    * hundreds).
    */
  val BpeMaxMergesPerRound = 64

  /** Quality frontier for [[bpeMergesDisjoint]]'s skip-conflicts scan:
    * a round accepts only candidates with count ≥ this fraction of the
    * round's top count. See the selection-loop comment for the measured
    * rationale.
    */
  val BpeBatchQualityFrac = 0.5

  /** Count of BPE training runs on the current thread — the serve-
    * posture witness [[graft.operators.Similarity.trainingPasses]] is
    * for IVF training, here for the tokenizer: a loaded
    * [[graft.api.Tokenizer]]'s apply must leave this unchanged
    * (training either ran or it didn't; wall-clock comparisons flake).
    */
  private[graft] object bpeTrainingPasses extends ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
    def increment(): Unit = set(get() + 1L)
  }

  /** The corpus's distinct alphanumeric words as a `(w)` frame — the
    * vocabulary artifact the BPE family trains over and applies to
    * (frame-parametric form of [[cachedBpeVocab]]; what
    * [[graft.api.Corpus.saveTokenizer]] persists beside the merges).
    */
  def bpeVocabOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[A-Za-z0-9]+$"))
      .select(col("w")).distinct()

  /** Shared batched trainer. One Spark round = one pair count over the
    * DISTINCT vocabulary + ONE candidate collect (a small multiple of
    * the batch size in tiny rows — a model-sized transfer, never data)
    * + one chained-replace vocabulary rewrite + one localCheckpoint,
    * independent of how many merges the round learns.
    *
    * EXACT mode selects the maximal ranked conflict-free PREFIX of the
    * candidate list and then shrinks it so every accepted count
    * STRICTLY exceeds the best excluded candidate's. That prefix is
    * provably what n sequential greedy rounds would pick:
    *
    *  - accepted merges are pairwise disjoint over {left, right,
    *    merged}, so applying one leaves the others' pair counts
    *    untouched (a pair's occurrences only change where its symbols
    *    border the rewritten one, and `merged` is included so a merge
    *    output cannot create new occurrences of a later accepted
    *    pair);
    *  - every pair NOT accepted — the first conflicting candidate,
    *    everything ranked after it, and every pair damaged or created
    *    by an earlier accepted merge (created pairs inherit ≤ their
    *    source pair's count, and the source shares a symbol, so it is
    *    excluded) — has count ≤ the excluded bound < every accepted
    *    count, so it can never be sequential's argmax during the
    *    batch; ties are impossible across the strict bound, and among
    *    accepted candidates the ranked (count desc, l, r) order IS
    *    sequential's tie-break.
    *
    * The batch head is always kept (the global argmax is exact by
    * definition), so progress is guaranteed and the worst case —
    * tie-heavy or symbol-dense rankings — degrades to sequential, not
    * to wrong answers. APPROX mode (`exact = false`) keeps scanning
    * past conflicts (see [[bpeMergesDisjoint]]).
    */
  private def bpeMergesBatched(docs: DataFrame, n: Int,
      exact: Boolean, maxPerRound: Int,
      qualityFrac: Double = BpeBatchQualityFrac): DataFrame = {
    bpeTrainingPasses.increment()
    val spark = docs.sparkSession
    var vocab = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[A-Za-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        concat(lit(" "),
          rtrim(regexp_replace(col("w"), "(.)", "$1  ")),
          lit(" ")).as("s"))
      .localCheckpoint()
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (learned.size < n && !exhausted) {
      val want = math.min(n - learned.size, maxPerRound)
      // exact mode stops at the first conflict, so a small window
      // suffices; approx mode SKIPS conflicts and keeps filling — on
      // natural rankings the top is symbol-dense (a 3x window filled
      // only ~10 of 64 slots per round on the 100x corpus), so give it
      // a deep window: candidates are 3-column driver rows, thousands
      // of them cost nothing next to a saved corpus-sized round.
      val fetch = if (exact) 3 * want + 1 else 16 * want + 1
      val top = vocab
        .select(col("cnt"), split(trim(col("s")), "  ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          """zip_with(slice(a, 1, greatest(size(a) - 1, 0)),
            |         slice(a, 2, greatest(size(a) - 1, 0)),
            |         (x, y) -> struct(x AS l, y AS r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(fetch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var bound = -1L // best excluded candidate's count (exact mode)
        var stop = false
        // approx-mode quality frontier: only accept merges whose count
        // stays within BpeBatchQualityFrac of the round's head count.
        // Without it, a conflict-dense head makes the scan dig into the
        // far tail and SPEND MERGE BUDGET on low-value pairs that exact
        // greedy would never pick at this point (measured: unbounded
        // digging cost 23.6% compression at the 100× corpus); with it,
        // a conflict-dense round simply learns fewer merges — quality
        // degrades toward exact, never toward the tail.
        val floor = math.ceil(top(0).getLong(2) * qualityFrac).toLong
        val it = top.iterator
        while (it.hasNext && !stop) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (batch.size >= want) { bound = c; stop = true }
          else if (!exact && c < floor && batch.nonEmpty) stop = true
          else if (Seq(l, r, l + r).exists(used.contains)) {
            if (exact) { bound = c; stop = true } // prefix rule
            // approx: skip the conflict, keep scanning the window
          } else {
            used ++= Seq(l, r, l + r)
            batch += ((l, r, c))
          }
        }
        // strict-descent guard: drop accepted merges that do not
        // strictly beat the bound (head stays — the global argmax,
        // ties and all, is sequential's round-1 pick by construction)
        if (exact && bound >= 0)
          while (batch.length > 1 && batch.last._3 <= bound)
            batch.remove(batch.length - 1)
        batch.foreach { case (l, r, c) =>
          learned += ((learned.size + 1, l, r, l + r, c))
        }
        // one vocabulary rewrite applies the whole batch in rank order
        // (symbols are alphanumeric by the vocabulary filter, so the
        // literal interpolation cannot break the expression)
        val applied = batch.foldLeft("s") { case (e, (l, r, _)) =>
          s"replace($e, ' $l  $r ', ' ${l + r} ')"
        }
        vocab = vocab.select(col("cnt"), expr(applied).as("s"))
          .localCheckpoint()
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("rank", "left", "right", "merged", "freq")
      .orderBy(col("rank"))
  }

  /** The shared training CTE chain (`words`, `v0`, and the unrolled
    * `m1`/`v1` … stages), used by both BPE oracles.
    */
  private[operators] val bpeStagesSql: String = {
    val pairsOf = (v: String) =>
      s"""SELECT p.l AS l, p.r AS r, SUM(cnt) AS c FROM (
         |  SELECT cnt, unnest(list_transform(range(1, len(a)),
         |    i -> struct_pack(l := a[i], r := a[i+1]))) AS p
         |  FROM (SELECT cnt, string_split(trim(s), '  ') AS a FROM $v) z
         |  WHERE len(a) >= 2) u
         |GROUP BY 1, 2""".stripMargin
    val stages = (1 to BpeTrainMerges).map { i =>
      s"""m$i AS (SELECT l, r, c FROM (${pairsOf(s"v${i - 1}")}) q
         |  ORDER BY c DESC, l, r LIMIT 1),
         |v$i AS (
         |  SELECT cnt, replace(s, ' ' || l || '  ' || r || ' ',
         |    ' ' || l || r || ' ' ) AS s
         |  FROM v${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
       |    FROM documents) t
       |  WHERE regexp_full_match(w, '[A-Za-z0-9]+')
       |  GROUP BY w),
       |v0 AS (
       |  SELECT cnt,
       |    ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM words),
       |$stages""".stripMargin
  }

  /** DuckDB mirror of [[taBpeTrain]]: the loop unrolled as
    * [[BpeTrainMerges]] CTE stages — each stage's argmax is a 1-row
    * `ORDER BY c DESC, l, r LIMIT 1` CTE cross-joined into the next
    * vocabulary rewrite, with the same double-space `replace` trick.
    */
  val taBpeTrainSql: String = {
    val out = (1 to BpeTrainMerges).map { i =>
      s"""SELECT $i AS "rank", l AS "left", r AS "right", l || r AS merged, CAST(c AS BIGINT) AS freq FROM m$i"""
    }.mkString("\nUNION ALL ")
    s"""WITH $bpeStagesSql
       |$out
       |ORDER BY "rank"""".stripMargin
  }

  /** BPE tokenization under the LEARNED merge table — the serve side
    * of [[taBpeTrain]], closing the train→apply loop (where
    * [[taBpeTokens]] applies a fixed heuristic). Per document:
    * alphanumeric word count, character count, and the BPE token count
    * after applying all [[BpeTrainMerges]] learned merges in rank
    * order.
    *
    * Scale shape: training runs once (see [[bpeMerges]]); the learned
    * table is 10 rows — a MODEL, collected to the driver and inlined
    * as literals, the same posture as broadcasting k-means centroids.
    * The merge chain itself runs over the session-cached DISTINCT
    * vocabulary (see [[bpeAppliedWith]]), so the corpus-sized work is
    * one tokenize→explode→broadcast-join→hash-agg pass: linear in
    * corpus bytes, map-side until the per-doc partial aggregation.
    */
  def taBpeApply(s: SparkSession, d: String): DataFrame = {
    val m = trainedMerges(s, d)
    // the oracle unrolls exactly BpeTrainMerges stages and would go
    // EMPTY on an exhausted vocabulary (its per-doc relation cross-
    // joins every 1-row merge CTE), while the frame-parametric core
    // degrades gracefully — fail loudly rather than diverge silently
    // on a degenerate corpus
    require(m.size == BpeTrainMerges,
      s"vocabulary exhausted after ${m.size} merges; ta_bpe_apply's " +
        s"oracle requires $BpeTrainMerges learnable merges — use " +
        "bpeApplied for degenerate corpora")
    bpeAppliedWith(documents(s, d), m.map(x => (x._2, x._3)),
      Some(cachedBpeVocab(s, d)))
  }

  /** Session-cached `(w)` relation of the corpus's distinct
    * alphanumeric words — the vocabulary artifact the BPE family
    * shares (training folds counts over it; apply tokenizes it). A
    * production pipeline persists the vocabulary next to the merge
    * table when the tokenizer is trained; within a suite run this
    * memo is that materialization, and it spares [[taBpeApply]] a
    * second full-corpus tokenize pass just to re-derive it.
    */
  /** Tokenize a `(w)` vocabulary frame under a merge table (rank
    * order): appends `__n_tok`, the BPE token count of each word.
    * Symbols are alphanumeric by the vocabulary filter, so literal
    * inlining cannot break the expression.
    */
  private[operators] def bpeVocabTok(vocab: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    // merges fold into CHUNKS of chained replaces with a checkpoint
    // between chunks: one nested expression cannot hold a 30k-merge
    // production table (Janino's method-size limit kills codegen and
    // a 30k-deep interpreted eval tree thrashes), but ~chunk-sized
    // nests stay codegen'd and each extra chunk costs one more pass
    // over the DISTINCT VOCABULARY — the apply stays Heaps'-law-sized
    // no matter the vocabulary size. The ≤1-chunk case (every gated
    // query: BpeTrainMerges = 10) folds exactly as before, single
    // pass, no checkpoint.
    val chunks = merges.grouped(BpeMaxMergesPerRound).toSeq
    val first = chunks.headOption.getOrElse(Nil)
    def chain(seed: String, ms: Seq[(String, String)]): String =
      ms.foldLeft(seed) {
        case (e, (l, r)) => s"replace($e, ' $l  $r ', ' ${l + r} ')"
      }
    var cur = vocab.select(col("w"),
      expr(chain("concat(' ', rtrim(regexp_replace(w, '(.)', '$1  ')), ' ')",
        first)).as("__s"))
    chunks.drop(1).foreach { ms =>
      cur = cur.localCheckpoint()
        .select(col("w"), expr(chain("__s", ms)).as("__s"))
    }
    cur.select(col("w"),
      expr("size(split(trim(__s), '  '))").cast(LongType).as("__n_tok"))
  }

  private[operators] val cachedBpeVocab =
    Artifacts.declare("bpevocab")((s, d) => bpeVocabOf(documents(s, d)))

  /** Frame-parametric core of [[taBpeApply]] over ANY `(doc_id, text)`
    * frame: trains in-plan, then applies. The gate serves the merge
    * table from the session model cache instead.
    */
  def bpeApplied(docs: DataFrame, n: Int = BpeTrainMerges): DataFrame =
    bpeAppliedWith(docs,
      bpeMerges(docs, n).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Apply a given merge table (rank order) to a corpus.
    *
    * The merge chain runs over the DISTINCT vocabulary, not over word
    * occurrences — the same trick the trainer uses ([[bpeMerges]]
    * works on `(word, cnt)`). Zipf makes this the scale win: a corpus
    * has orders of magnitude more occurrences than distinct words
    * (Heaps' law keeps vocabulary sublinear in corpus bytes), so the
    * expensive char-split + chained-replace chain runs |vocab| times
    * instead of |corpus| times, and occurrences just hash-join the
    * tokenized vocabulary (broadcast — a vocabulary fits an executor
    * by construction; were it ever to outgrow the threshold the join
    * degrades to a plain shuffle join, still linear). Measured at
    * sf0.1: 270,704 occurrences, 31 distinct words.
    *
    * `vocab` (a `(w)` frame of the corpus's distinct alphanumeric
    * words) lets a caller supply the persisted vocabulary artifact —
    * [[taBpeApply]] passes the session cache — saving the second
    * corpus scan an in-plan distinct would cost. When absent, the
    * vocabulary derives in-plan from `docs` (the self-contained
    * frame-parametric form `graft.api.Corpus` exposes).
    *
    * PRECONDITION on a supplied `vocab`: it must COVER the corpus —
    * every alphanumeric word of `docs` appears in it. A stale persisted
    * vocabulary would otherwise join to null token counts and silently
    * undercount `n_bpe_tokens`; the plan guards the join with a
    * `raise_error` on any uncovered word, so a stale artifact fails the
    * job loudly instead (the guard is a codegen'd null-check branch —
    * free on the covered path).
    */
  def bpeAppliedWith(docs: DataFrame,
      merges: Seq[(String, String)],
      vocab: Option[DataFrame] = None): DataFrame = {
    // explode_outer keeps zero-word documents as a single null-word
    // row: count(w) skips nulls, the sums coalesce to 0 — the
    // (0, 0, 0) row the aggregate-HOF form emitted
    val occ = docs
      .withColumn("__toks", tokens(col("text")))
      .select(col("doc_id"),
        explode_outer(expr("filter(__toks, w -> w rlike '^[A-Za-z0-9]+$')"))
          .as("w"))
    val vocabTok = bpeVocabTok(vocab.getOrElse(
      occ.filter(col("w").isNotNull).select(col("w")).distinct()), merges)
    occ.join(broadcast(vocabTok), Seq("w"), "left")
      // coverage guard: a real word that missed the vocabulary join is
      // a stale/incomplete vocab artifact — fail loudly, never
      // undercount (null w = the explode_outer zero-word-doc row, fine)
      .withColumn("__n_tok",
        when(col("w").isNotNull && col("__n_tok").isNull,
          raise_error(concat(
            lit("BPE vocabulary does not cover corpus word: "), col("w"))))
          .otherwise(col("__n_tok")))
      .groupBy(col("doc_id"))
      .agg(
        count(col("w")).as("n_words"),
        coalesce(sum(length(col("w"))), lit(0L)).cast(LongType).as("n_chars"),
        coalesce(sum(col("__n_tok")), lit(0L)).cast(LongType).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[taBpeApply]]: re-derives the merge table via
    * [[bpeStagesSql]], cross-joins the ten 1-row merge CTEs into the
    * per-doc relation as plain columns (DuckDB lambdas cannot hold
    * subqueries), and applies the same chained double-space replaces.
    */
  // shared DuckDB fragments for applying the m1..mN merge CTEs of
  // [[bpeStagesSql]] to a word column `w`: select the merge symbols as
  // plain columns (DuckDB lambdas cannot hold subqueries), cross-join
  // the N 1-row CTEs in, and run the chained double-space replaces
  private[operators] val bpeMergeColsSql: String =
    (1 to BpeTrainMerges).map(i => s"m$i.l AS l$i, m$i.r AS r$i")
      .mkString(", ")
  private[operators] val bpeMergeCrossJoinsSql: String =
    (1 to BpeTrainMerges).map(i => s"CROSS JOIN m$i").mkString(" ")
  private[operators] val bpeAppliedChainSql: String =
    (1 to BpeTrainMerges).foldLeft(
      "' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '") {
      case (e, i) =>
        s"replace($e, ' ' || l$i || '  ' || r$i || ' ', ' ' || l$i || r$i || ' ')"
    }

  val taBpeApplySql: String = {
    val mergeCols = bpeMergeColsSql
    val crossJoins = bpeMergeCrossJoinsSql
    val applied = bpeAppliedChainSql
    s"""WITH $bpeStagesSql,
       |docw AS (
       |  SELECT doc_id,
       |    list_filter(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      w -> regexp_full_match(w, '[A-Za-z0-9]+')) AS ws,
       |    $mergeCols
       |  FROM documents $crossJoins)
       |SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_chars,
       |  CAST(COALESCE(list_sum(list_transform(ws,
       |    w -> len(string_split(trim($applied), '  ')))), 0) AS BIGINT) AS n_bpe_tokens
       |FROM docw
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ta_length_tails — per-domain length-tail trimming.
  // ---------------------------------------------------------------------

  val TailLo = 0.1
  val TailHi = 0.9

  /** Per-domain length-tail detection: documents whose length falls
    * outside their source's [p10, p90] (exact interpolated percentiles
    * — truncation too short to train on, concatenation blobs too long)
    * get flagged `short`/`long`. The standard per-domain outlier trim
    * of a corpus-QA pass, run per SOURCE because length distributions
    * differ wildly across crawl domains and one global fence
    * over/under-trims each. Percentiles via [[Percentiles.exact]] (no
    * value buffering; at 100 TB group sizes use
    * [[Percentiles.exactSelect]], same answers); the 20-row fence table
    * broadcasts back onto the corpus — the corpus itself never
    * shuffles.
    */
  def taLengthTails(s: SparkSession, d: String): DataFrame = {
    val fences = Percentiles.exact(documents(s, d), "source", "n_chars",
      Seq(("p10", TailLo), ("p90", TailHi)))
    documents(s, d)
      .join(broadcast(fences), Seq("source"))
      .filter(col("n_chars") < col("p10") || col("n_chars") > col("p90"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("p10"), col("p90"),
        when(col("n_chars") < col("p10"), "short").otherwise("long")
          .as("tail"))
      .orderBy(col("doc_id"))
  }

  val taLengthTailsSql: String =
    s"""WITH pct AS (
       |${Percentiles.exactSql("documents", "source", "n_chars",
          Seq(("p10", TailLo), ("p90", TailHi)))})
       |SELECT d.doc_id, d.source, d.n_chars, p.p10, p.p90,
       |  CASE WHEN d.n_chars < p.p10 THEN 'short' ELSE 'long' END AS tail
       |FROM documents d JOIN pct p ON d.source = p.source
       |WHERE d.n_chars < p.p10 OR d.n_chars > p.p90
       |ORDER BY d.doc_id""".stripMargin

  /** Lexical diversity via the Simpson index: with per-doc token counts
    * c_w, emits Σc_w² and the two derived signals — `simpson`
    * (1 − Σc²/n², the probability two random token draws differ) and
    * `eff_vocab` (n²/Σc², the Rényi-2 "effective vocabulary size").
    * Unlike `ta_repetition`'s distinct-count/dup-fraction this weights
    * the SKEW of the distribution: a doc where one token supplies half
    * the mass scores low even with a large distinct vocabulary — the
    * keyword-stuffing / template-spam signal of a corpus quality pass.
    *
    * Deliberately log-free: Shannon entropy's per-term `log` is not
    * guaranteed bit-identical across engines' libm, while Σc² is exact
    * integer arithmetic end to end and the two derived doubles are each
    * ONE IEEE division (+ one subtraction) of exact integers —
    * hash-stable on any platform. Shape: same two partial-aggregated
    * shuffles as `ta_repetition` (term counts, then per-doc moments);
    * nothing per-pair, nothing driver-side.
    */
  def taDiversity(s: SparkSession, d: String): DataFrame =
    cachedTokRel(s, d)
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("doc_id"), col("n_tokens"), col("sum_sq"),
        (lit(1.0) - col("sum_sq").cast(DoubleType) /
          (col("n_tokens") * col("n_tokens")).cast(DoubleType))
          .as("simpson"),
        ((col("n_tokens") * col("n_tokens")).cast(DoubleType) /
          col("sum_sq").cast(DoubleType)).as("eff_vocab"))
      .orderBy(col("doc_id"))

  val taDiversitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
      |mom AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_sq
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_tokens, sum_sq,
      |  CAST(1 AS DOUBLE) - CAST(sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson,
      |  CAST(n_tokens * n_tokens AS DOUBLE) / CAST(sum_sq AS DOUBLE) AS eff_vocab
      |FROM mom
      |ORDER BY doc_id""".stripMargin

  // ── Boilerplate detection ─────────────────────────────────────────

  /** Shingle width for boilerplate detection — shorter than
    * [[Dedup2.SpanWindow]] because boilerplate runs (nav bars, footers,
    * license headers) are short repeated phrases, not long spans.
    */
  val BoilerWindow = 5

  /** A shingle is boilerplate when at least this many DISTINCT
    * documents contain it — the corpus-global repeated-span prior of
    * C4's cleaning pass (which drops repeated three-sentence spans
    * corpus-wide, not per site).
    */
  val BoilerMinDocs = 3

  /** Boilerplate scoring — the C4-style "repeated template text" pass.
    * For every document: how many of its [[BoilerWindow]]-token shingle
    * positions are boilerplate (shingle present in ≥ [[BoilerMinDocs]]
    * distinct documents corpus-wide). Complements [[Dedup2.ddSpans]]:
    * spans report WHERE the duplicated runs are; this scores each DOC
    * by how much of it is template text — the per-doc drop/keep signal.
    *
    * Shape: positional shingle hashes are one codegen'd pass
    * ([[graft.functions.WordShingleHashesExpr]]); within-doc repeats
    * collapse in a partial-aggregated (doc, shingle) count, so the
    * doc-frequency aggregate and the boiler join-back both see each
    * (doc, shingle) ONCE — a shingle pasted 10⁷ times across the corpus
    * costs map-side partials, never a window sort, and AQE splits the
    * join-back probe. Every downstream arm (doc-frequency, boiler
    * positions, per-doc totals) derives from the SAME (doc, shingle)
    * aggregate, so ReuseExchange materializes the text scan + explode
    * once; the only other corpus touch is a text-pruned (doc_id,
    * source) scan that carries short docs to the output with n_pos = 0.
    */
  def boilerplateScored(docs: DataFrame, window: Int = BoilerWindow,
      minDocs: Int = BoilerMinDocs): DataFrame = {
    val hashes = WordShingleHashesExpr.wordShingleHashesNative(col("text"), window)
    val perDoc = docs
      .select(col("doc_id"), explode(hashes).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    // rows are distinct (doc, shingle) — count(*) IS the doc-frequency
    val boiler = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"))
    val nBoiler = perDoc.join(boiler, Seq("h"))
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("nb"))
    val totals = perDoc.groupBy(col("doc_id")).agg(sum(col("cnt")).as("np"))
    docs
      .select(col("doc_id"), col("source"))
      .join(totals, Seq("doc_id"), "left")
      .join(nBoiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("np"), lit(0L)).as("n_pos"),
        coalesce(col("nb"), lit(0L)).as("n_boiler"),
        when(coalesce(col("np"), lit(0L)) > 0,
          coalesce(col("nb"), lit(0L)).cast(DoubleType) /
            col("np").cast(DoubleType)).as("boiler_ratio"))
  }

  def taBoilerplate(s: SparkSession, d: String): DataFrame =
    boilerplateScored(documents(s, d)).orderBy(col("doc_id"))

  /** DuckDB mirror — same first-8-md5-bytes shingle hash as
    * [[Dedup2.ddSpansSql]] (unsigned vs signed views of the same 64
    * bits give identical equality classes); n_boiler/n_pos is one IEEE
    * division of exact integers, hash-stable.
    */
  val taBoilerplateSql: String = {
    val w = BoilerWindow
    val cat = (0 until w).map(j =>
      if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t) - ${w - 2}),
       |      i -> CAST(('0x' || substr(md5($cat), 1, 16)) AS UBIGINT))) AS h
       |  FROM toks WHERE len(t) >= $w),
       |perdoc AS (
       |  SELECT doc_id, h, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
       |boiler AS (
       |  SELECT h FROM perdoc GROUP BY h
       |  HAVING COUNT(*) >= $BoilerMinDocs),
       |nb AS (
       |  SELECT p.doc_id, CAST(SUM(p.cnt) AS BIGINT) AS nb
       |  FROM perdoc p JOIN boiler b ON p.h = b.h
       |  GROUP BY 1),
       |tot AS (
       |  SELECT doc_id, source,
       |    CAST(greatest(len(t) - ${w - 1}, 0) AS BIGINT) AS n_pos
       |  FROM toks)
       |SELECT t.doc_id, t.source, t.n_pos,
       |  COALESCE(nb.nb, 0) AS n_boiler,
       |  CASE WHEN t.n_pos > 0
       |       THEN CAST(COALESCE(nb.nb, 0) AS DOUBLE) / CAST(t.n_pos AS DOUBLE)
       |  END AS boiler_ratio
       |FROM tot t LEFT JOIN nb ON t.doc_id = nb.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ta_bm25 — BM25 top-k retrieval over the corpus.
  // ---------------------------------------------------------------------

  /** BM25 term-saturation constant k1 and length-normalization b —
    * the standard Robertson defaults. Interpolated as DECIMAL LITERALS
    * into both engines' expressions (never recomputed as `k1 + 1.0`
    * on one side and a literal on the other: `1.2 + 1.0` and the
    * literal `2.2` round to DIFFERENT doubles, which would break the
    * cross-engine hash).
    */
  val Bm25K1 = "1.2"
  val Bm25K1Plus1 = "2.2"
  val Bm25OneMinusB = "0.25"
  val Bm25B = "0.75"
  val Bm25TopDocs = 10

  /** Fixed benchmark queries (query_id → terms), drawn from the corpus
    * vocabulary so every query matches.
    */
  val bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "query", 1 -> "fast",
    2 -> "hash", 2 -> "join",
    3 -> "stream", 3 -> "window", 3 -> "batch")

  /** BM25 top-[[Bm25TopDocs]] retrieval: score every document against
    * each benchmark query and keep the best 10 — the classic sparse
    * retrieval pass a training-data pipeline runs to mine
    * domain-relevant documents (and the lexical arm next to the
    * embedding-based `sim_*` retrieval family).
    *
    * Cross-engine exactness: the idf keeps Lucene's always-positive
    * argument `(N - df + 0.5)/(df + 0.5) + 1` but drops the `ln`
    * around it — `ln` is not guaranteed correctly-rounded across
    * libms (the [[taTfidf]] precedent), while every op here
    * (cast/divide/multiply/add) IS exact-rounded IEEE, so scores are
    * bit-identical across engines. Unlike the log form this makes the
    * score sum rank high-idf terms more steeply — a documented
    * deviation, deterministic on both sides. The per-(query, doc) sum
    * folds term scores in TERM ORDER on both engines (the ADC
    * precedent: a bare `sum(double)` is partition-order-dependent).
    *
    * Scale shape: tokens are FILTERED to query terms before the
    * (doc, term) aggregation — at 100 TB only matching tokens survive
    * the explode, so tf's shuffle carries |matches|, never the corpus
    * token count. df/idf and the query table are broadcast; doc length
    * rides the explode (no second corpus pass or doc-keyed join); the
    * per-query top-10 is a rank window whose input is only docs
    * containing ≥1 query term, pruned by `WindowGroupLimit` before the
    * final sort.
    */
  def taBm25(s: SparkSession, d: String): DataFrame = {
    val q = s.createDataFrame(bm25Queries).toDF("query_id", "term")
    bm25TopDocsFromToks(cachedTokRel(s, d), q, Bm25TopDocs)
  }

  /** Frame-parametric core of [[taBm25]]: top-`topK` docs per query over
    * ANY `(doc_id, text)` frame and `(query_id, term)` query table.
    */
  /** The ONE definition of the per-(doc, term) BM25 score — shared by
    * [[bm25TopDocs]] and the streaming serving path
    * ([[graft.streaming.DocStreams.bm25Serve]]), so the two cannot
    * drift. All inputs are integer columns; every op is exact-rounded
    * IEEE (lit(x.toDouble), never expr("1.2") — the SQL parser types a
    * bare decimal literal as DECIMAL, not DOUBLE).
    */
  private[graft] def bm25TermScore(tf: org.apache.spark.sql.Column,
      df: org.apache.spark.sql.Column, dl: org.apache.spark.sql.Column,
      nDocs: org.apache.spark.sql.Column,
      sumDl: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val idf = ((nDocs - df).cast(DoubleType) + lit(0.5)) /
      (df.cast(DoubleType) + lit(0.5)) + lit(1.0)
    val lenNorm = lit(Bm25K1.toDouble) * (lit(Bm25OneMinusB.toDouble) +
      lit(Bm25B.toDouble) * (dl.cast(DoubleType) /
        (sumDl.cast(DoubleType) / nDocs.cast(DoubleType))))
    idf * ((tf.cast(DoubleType) * lit(Bm25K1Plus1.toDouble)) /
      (tf.cast(DoubleType) + lenNorm))
  }

  def bm25TopDocs(docs: DataFrame, q: DataFrame, topK: Int): DataFrame =
    bm25TopDocsFromToks(docs.select(col("doc_id"), toks.as("t")), q, topK)

  /** [[bm25TopDocs]] from an already-tokenized `(doc_id, t)` frame —
    * the gated query passes [[cachedTokRel]], so neither the corpus
    * stats pass nor the postings pass re-pays the tokenize (one row
    * per doc, so `n_docs`/`sum_dl` are unchanged).
    */
  private def bm25TopDocsFromToks(tokRel: DataFrame, q: DataFrame,
      topK: Int): DataFrame = {
    val withDl = tokRel.select(col("doc_id"), size(col("t")).as("dl"),
      col("t"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      // broadcast SEMI join, not isInCollection over a collect: the
      // term filter stays a plan (no driver round-trip) and still
      // evaluates map-side before the (doc, term) aggregation
      .join(broadcast(q.select("term").distinct()), Seq("term"), "leftsemi")
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(q), "term")
      .join(broadcast(dfRel), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"),
        bm25TermScore(col("tf"), col("df"), col("dl"), col("n_docs"),
          col("sum_dl")).as("sc"))
    val folded = scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        aggregate(sort_array(collect_list(struct(col("term"), col("sc")))),
          lit(0.0), (acc, x) => acc + x.getField("sc")).as("score"))
    folded
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms"),
        col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB CTE chain through `agg(query_id, doc_id, n_terms, score)`
    * — shared by the [[taBm25]] oracle and the streaming twin's
    * (`st_bm25`). `tf` filters to the query vocabulary (same values as
    * the full-index form: df of a query term counts the same docs
    * either way).
    */
  private[graft] val bm25CtesSql: String = {
    val qVals = bm25Queries.map { case (id, t) => s"($id, '$t')" }
      .mkString(", ")
    s"""q(query_id, term) AS (VALUES $qVals),
       |toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
       |tok AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
       |tf AS (
       |  SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id, tf.term,
       |    ((CAST(n.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
       |      * ((CAST(tf.tf AS DOUBLE) * $Bm25K1Plus1) /
       |         (CAST(tf.tf AS DOUBLE) + $Bm25K1 * ($Bm25OneMinusB + $Bm25B *
       |           (CAST(tf.dl AS DOUBLE) / (CAST(n.sum_dl AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))) AS sc
       |  FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN n),
       |agg AS (
       |  SELECT query_id, doc_id, COUNT(*) AS n_terms,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY term)),
       |      (acc, x) -> acc + x) AS score
       |  FROM scored GROUP BY query_id, doc_id)""".stripMargin
  }

  val taBm25Sql: String =
    s"""WITH $bm25CtesSql
       |SELECT query_id, rank, doc_id, n_terms, score
       |FROM (SELECT query_id, doc_id, n_terms, score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, doc_id) AS rank
       |      FROM agg) r
       |WHERE rank <= $Bm25TopDocs
       |ORDER BY query_id, rank""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("ta_bm25",          taBm25,         taBm25Sql),
    Gated("ta_boilerplate",   taBoilerplate,  taBoilerplateSql),
    Gated("ta_diversity",     taDiversity,    taDiversitySql),
    Gated("ta_length_tails",  taLengthTails,  taLengthTailsSql),
    Gated("ta_normalize",     taNormalize,    taNormalizeSql),
    Gated("ta_token_stats",   taTokenStats,   taTokenStatsSql),
    Gated("ta_bpe_tokens",    taBpeTokens,    taBpeTokensSql),
    Gated("ta_quality",       taQuality,      taQualitySql),
    Gated("ta_langid",        taLangid,       taLangidSql),
    Gated("ta_fingerprint",   taFingerprint,  taFingerprintSql),
    Gated("ta_repetition",    taRepetition,   taRepetitionSql),
    Gated("ta_tfidf",         taTfidf,        taTfidfSql),
    Gated("ta_unigram_score", taUnigramScore, taUnigramScoreSql),
    Gated("ta_bigram_score",  taBigramScore,  taBigramScoreSql),
    Gated("ta_bpe_train",     taBpeTrain,     taBpeTrainSql),
    Gated("ta_bpe_apply",     taBpeApply,     taBpeApplySql),
  )
}
