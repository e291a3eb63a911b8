package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Corpus-assembly operators: the deterministic bookkeeping a training-
  * data pipeline runs between filtering and tokenization — train/val/test
  * splitting, stratified sampling, global shuffling, and domain-mixture
  * reweighting. (The reference engine stops at word-count-style MapReduce
  * — SURVEY.md §2f; this family is part of the prompt-mandated
  * training-pipeline extension surface.)
  *
  * Every operator keys on md5 of a salted record id, so results are
  * reproducible across runs, engines, and partitionings — no RNG state,
  * no `rand()`. All md5 arithmetic matches the DuckDB oracle bit-for-bit
  * (see `md5Bucket`): assignment decisions are identical in both engines.
  *
  * Scale posture: split and mixture are pure map-side (no shuffle beyond
  * the presentation sort); stratified sampling shuffles once on the
  * stratum key; the global shuffle is the two-phase bucket-enumeration
  * pattern (sort WITHIN 256 independent hash buckets + a 256-row offset
  * table) rather than a single-partition global row_number.
  */
object CorpusOps {

  /** Salted md5 hex key — the per-operator reproducible randomness. */
  private def saltedKey(salt: String, id: org.apache.spark.sql.Column) =
    md5(concat(lit(salt + ":"), id.cast("string")))

  private def saltedKeySql(salt: String, idExpr: String) =
    s"md5('$salt:' || CAST($idExpr AS VARCHAR))"

  // ---------------------------------------------------------------------
  // cp_split — deterministic train/val/test split.
  // ---------------------------------------------------------------------

  val TrainPct = 80
  val ValPct = 10 // test gets the remainder

  /** Frame-parametric core: append `bucket` (0-99) and `split`
    * (train/val/test) columns keyed on the salted md5 of `id`. The
    * split is a pure projection of the id — adding or removing OTHER
    * rows never moves a row between splits (the property `rand()`-based
    * splits lack, and the reason every production pipeline hashes).
    * Map-side only; at 100 TB this costs one md5 per row. Shared by the
    * gated [[cpSplit]] and `graft.api.Corpus.hashSplit`.
    *
    * Leakage-aware GROUP splits fall out of the same primitive: pass
    * `id = <group column>` (e.g. `source`) and every row of a group
    * lands in the same split — near-duplicates within a crawl domain
    * can then never straddle train and test.
    */
  def hashSplit(df: DataFrame, id: String = "doc_id",
      trainPct: Int = TrainPct, valPct: Int = ValPct): DataFrame = {
    val b = md5Bucket(concat(lit("split:"), col(id).cast("string")), 100)
    df.withColumn("bucket", b.cast(IntegerType))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  def cpSplit(s: SparkSession, d: String): DataFrame =
    hashSplit(documents(s, d))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  val cpSplitSql: String = {
    val b = s"(('0x' || substr(${saltedKeySql("split", "doc_id")}, 1, 8))::UBIGINT % 100)"
    s"""SELECT doc_id,
       |  CAST($b AS INTEGER) AS bucket,
       |  CASE WHEN $b < $TrainPct THEN 'train'
       |       WHEN $b < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_stratified — proportional per-stratum sampling.
  // ---------------------------------------------------------------------

  val StratRate = 0.2

  /** Frame-parametric core: keep ceil(`rate`) of each `stratum`, chosen
    * by hash order — the per-domain subsample that preserves domain
    * proportions exactly (uniform hash sampling only preserves them in
    * expectation, which at small-stratum sizes means entire domains can
    * vanish). One shuffle on the stratum key; the within-stratum sort
    * is by md5, so the choice of which rows survive is reproducible.
    * Appends `rk` (hash rank in stratum) and `n_<stratum>` columns.
    * Shared by [[cpStratified]] and
    * `graft.api.Corpus.stratifiedSampled`.
    *
    * SKEW LIMIT: a window partition cannot be split (AQE skew handling
    * applies to joins, not windows), so a stratum holding most of a
    * 100 TB corpus funnels through one task's sort. For dominant
    * strata, switch to the two-pass form: estimate the stratum's
    * rank-`rate` md5 threshold from a coarse bucket histogram (the
    * [[Percentiles]] selection pattern), then keep rows below it with
    * a map-side filter — no per-stratum sort at all.
    */
  def stratifiedSample(df: DataFrame, stratum: String = "source",
      id: String = "doc_id", rate: Double = StratRate): DataFrame = {
    val key = saltedKey("strat", col(id))
    val w = Window.partitionBy(col(stratum)).orderBy(col("__k"), col(id))
    val cw = Window.partitionBy(col(stratum))
    df.withColumn("__k", key)
      .withColumn("rk", row_number().over(w))
      .withColumn(s"n_$stratum", count(lit(1)).over(cw))
      .filter(col("rk") <= ceil(col(s"n_$stratum") * lit(rate)))
      .drop("__k")
  }

  def cpStratified(s: SparkSession, d: String): DataFrame =
    stratifiedSample(documents(s, d))
      .select(col("doc_id"), col("source"),
        col("rk").cast(IntegerType).as("rk"),
        col("n_source").cast(LongType).as("n_source"))
      .orderBy(col("doc_id"))

  val cpStratifiedSql: String =
    s"""SELECT doc_id, source, CAST(rk AS INTEGER) AS rk,
       |  CAST(n_source AS BIGINT) AS n_source
       |FROM (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${saltedKeySql("strat", "doc_id")}, doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY source) AS n_source
       |  FROM documents) t
       |WHERE rk <= ceil(n_source * CAST($StratRate AS DOUBLE))
       |ORDER BY doc_id""".stripMargin
  // ^ the DOUBLE cast matters: a bare 0.2 literal is DECIMAL in DuckDB
  // (exact n/5) while Spark computes in double (0.2 has no exact binary
  // form) — a stratum size whose double product rounds just above the
  // exact integer would ceil one higher in Spark than in the oracle.
  // Mirroring the double arithmetic makes both engines bit-identical.

  // ---------------------------------------------------------------------
  // cp_shuffle — deterministic global shuffle (two-phase enumeration).
  // ---------------------------------------------------------------------

  /** Frame-parametric core: assign every row a global position `pos` in
    * a reproducible pseudo-random order (the training-order shuffle).
    * Semantically this is `row_number() OVER (ORDER BY md5(id))` — but
    * a global window collapses to ONE partition, so the implementation
    * is the two-phase form that survives 100 TB: rank within 256
    * independent hash buckets (the bucket is the key's first hex byte,
    * so bucket order refines key order), then add per-bucket offsets
    * from a broadcast 256-row cumulative-count table. Each bucket sorts
    * ~1/256 of the corpus in parallel; no single-machine sort anywhere.
    * The oracle IS the naive global-window form — the equivalence is
    * what's being checked. Shared by [[cpShuffle]] and
    * `graft.api.Corpus.shuffled`.
    */
  def globalShuffle(df: DataFrame, id: String = "doc_id"): DataFrame = {
    val ranked = df
      .withColumn("__k", saltedKey("shuf", col(id)))
      .withColumn("__b", substring(col("__k"), 1, 2))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("__k"), col(id))))
    val offsets = ranked.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"))
      // BOUNDED GLOBAL WINDOW: the exclusive running total runs over
      // the 256-row per-bucket COUNT table (one row per __b prefix),
      // never the corpus — plan-audited in PlanAuditSpec
      .withColumn("__off",
        coalesce(
          sum(col("__n")).over(Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__b"), col("__off"))
    ranked.join(broadcast(offsets), Seq("__b"))
      .withColumn("pos", (col("__off") + col("__rk")).cast(LongType))
      .drop("__k", "__b", "__rk", "__off")
  }

  def cpShuffle(s: SparkSession, d: String): DataFrame =
    globalShuffle(documents(s, d))
      .select(col("doc_id"), col("pos"))
      .orderBy(col("doc_id"))

  val cpShuffleSql: String =
    s"""SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (
       |    ORDER BY ${saltedKeySql("shuf", "doc_id")}, doc_id) AS BIGINT) AS pos
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cp_token_budget — token-exact subsampling.
  // ---------------------------------------------------------------------

  val BudgetFrac = 0.4

  /** Frame-parametric core: keep documents, in reproducible shuffled
    * order, until a global token budget fills — "give me exactly N
    * training tokens" (the greedy cut: every doc that STARTS under the
    * budget is kept, so the kept total may overshoot by at most one
    * doc). Appends `n_tokens` and `cum_tokens` (running total through
    * this doc in cut order).
    *
    * Semantically the cut is `SUM(n_tokens) OVER (ORDER BY md5(id))` —
    * a global running sum, which would collapse to one partition; the
    * implementation is the same two-phase form as [[globalShuffle]]:
    * running sums within 256 hash buckets of the sort key + a broadcast
    * 256-row cumulative token-offset table. Shared by [[cpTokenBudget]]
    * and `graft.api.Corpus.tokenBudget`.
    */
  def tokenBudget(df: DataFrame, budgetTokens: org.apache.spark.sql.Column,
      id: String = "doc_id", text: String = "text"): DataFrame =
    tokenBudgetCounted(
      df.withColumn("n_tokens", size(tokens(col(text))).cast(LongType)),
      budgetTokens, id)

  /** [[tokenBudget]] over a frame that ALREADY carries `n_tokens` —
    * the narrow-decision form (guide §8: decide with small rows). The
    * gated callers project to `(id, n_tokens)` and materialize that
    * once BEFORE calling, so the corpus tokenize runs a single time
    * and the bucket window's exchange carries 16-byte rows instead of
    * documents; the generic [[tokenBudget]] wrapper keeps the
    * append-columns contract for API callers.
    */
  def tokenBudgetCounted(df: DataFrame,
      budgetTokens: org.apache.spark.sql.Column,
      id: String = "doc_id"): DataFrame = {
    val ranked = df
      .withColumn("__k", saltedKey("budget", col(id)))
      .withColumn("__b", substring(col("__k"), 1, 2))
      .withColumn("__cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("__b")).orderBy(col("__k"), col(id))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = ranked.groupBy(col("__b"))
      .agg(sum(col("n_tokens")).as("__n"))
      // BOUNDED GLOBAL WINDOW: cumulates the 256-row per-bucket token
      // totals (one row per __b prefix), never the corpus —
      // plan-audited in PlanAuditSpec
      .withColumn("__off",
        coalesce(
          sum(col("__n")).over(Window.orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__b"), col("__off"))
    ranked.join(broadcast(offsets), Seq("__b"))
      .withColumn("cum_tokens", col("__off") + col("__cum"))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .drop("__k", "__b", "__cum", "__off")
  }

  /** Gated form: budget = `floor(0.4 × corpus tokens)` (a scalar
    * aggregate broadcast into the cut — the fraction makes the query
    * discriminating at every scale factor).
    */
  def cpTokenBudget(s: SparkSession, d: String): DataFrame = {
    // narrow-decision form: ONE corpus tokenize materialized at
    // (doc_id, n_tokens) — the budget aggregate, the per-bucket offsets
    // branch and the final cut all read the 16-byte-row checkpoint
    // instead of each re-tokenizing the corpus (three passes before)
    val t = documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .localCheckpoint()
    val budget = t
      .agg(floor(lit(BudgetFrac) * sum(col("n_tokens"))).as("__budget"))
    tokenBudgetCounted(t.crossJoin(broadcast(budget)), col("__budget"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  val cpTokenBudgetSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    ${saltedKeySql("budget", "doc_id")} AS k
       |  FROM documents),
       |tot AS (SELECT floor(CAST($BudgetFrac AS DOUBLE) * SUM(n_tokens)) AS budget FROM t),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, n_tokens, cum_tokens
       |FROM r, tot
       |WHERE cum_tokens - n_tokens < budget
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cp_importance — DSIR-style importance scoring for data selection.
  // ---------------------------------------------------------------------

  val TargetLang = "en"

  /** Frame-parametric core: DSIR-style importance score of every doc
    * against a TARGET slice of the corpus (`isTarget` rows, e.g. one
    * language/domain) — per-term ratio of add-one-smoothed target vs
    * corpus unigram rates, averaged over the doc's tokens. Data
    * selection then keeps the top-scoring docs (pair with
    * [[tokenBudget]] for "the most target-like N tokens").
    *
    * Cross-engine exactness: the per-term ratio is a handful of IEEE
    * ops on exact integers (bit-identical in both engines), QUANTIZED
    * to 6 decimals (`floor(ratio·10⁶)` as a long) so the per-doc
    * aggregation is an exact INTEGER sum — no float-sum ordering
    * hazard — with one final division for the mean. The true DSIR
    * weight averages log-ratios; the arithmetic-mean-of-ratios
    * surrogate keeps the same "more target-like ⇒ higher" ordering
    * signal while staying log-free (the same trade
    * [[TextAnalysis.tfidfTopTerms]] makes), and the quantization floor
    * only biases scores down by < 10⁻⁶ uniformly.
    *
    * Shape: one groupBy(term) over the corpus (target counts ride
    * along as a conditional sum — no second pass), scalar totals
    * broadcast, the term→ratio table joined back reusing the term
    * aggregation's partitioning, one groupBy(doc_id) with map-side
    * partials. The vocabulary shuffles; documents never do.
    */
  def importanceScored(docs: DataFrame,
      isTarget: org.apache.spark.sql.Column): DataFrame =
    importanceScoredFromTok(docs.select(col("doc_id"), isTarget.as("is_t"),
      explode(tokens(col("text"))).as("term")))

  /** [[importanceScored]] from a pre-exploded `(doc_id, is_t, term)`
    * token relation — the gated query passes a view of the
    * session-cached tokenized corpus, so the three passes this relation
    * feeds (term stats, totals, per-doc fold) stop re-paying the
    * corpus tokenize.
    */
  private def importanceScoredFromTok(tokRel: DataFrame): DataFrame = {
    val stats = tokRel.groupBy(col("term")).agg(
      count(lit(1)).as("cs"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tot = tokRel.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n_tar"))
    val ratio =
      ((col("ct") + lit(1L)).cast(DoubleType) * col("n_all").cast(DoubleType)) /
        ((col("cs") + lit(1L)).cast(DoubleType) * col("n_tar").cast(DoubleType))
    val rq = stats.crossJoin(broadcast(tot))
      .select(col("term"),
        floor(ratio * lit(1000000.0)).cast(LongType).as("rq"))
    tokRel.join(rq, "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rq")).as("imp_sum"))
      .select(col("doc_id"), col("n_tokens"), col("imp_sum"),
        (col("imp_sum").cast(DoubleType) /
          (col("n_tokens").cast(DoubleType) * lit(1000000.0)))
          .as("importance"))
  }

  /** Gated form: target slice = the `$TargetLang` documents. */
  def cpImportance(s: SparkSession, d: String): DataFrame =
    importanceScoredFromTok(TextAnalysis.cachedTokRel(s, d)
      .select(col("doc_id"), (col("lang") === TargetLang).as("is_t"),
        explode(col("t")).as("term")))
      .orderBy(col("doc_id"))

  val cpImportanceSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang = '$TargetLang' AS is_t,
       |    unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS term
       |  FROM documents),
       |stats AS (
       |  SELECT term, COUNT(*) AS cs,
       |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
       |  FROM toks GROUP BY term),
       |tot AS (
       |  SELECT COUNT(*) AS n_all,
       |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_tar
       |  FROM toks),
       |rq AS (
       |  SELECT term,
       |    CAST(FLOOR(
       |      (CAST(ct + 1 AS DOUBLE) * CAST(n_all AS DOUBLE)) /
       |        (CAST(cs + 1 AS DOUBLE) * CAST(n_tar AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS rq
       |  FROM stats CROSS JOIN tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(rq) AS BIGINT) AS imp_sum,
       |  CAST(CAST(SUM(rq) AS BIGINT) AS DOUBLE) /
       |    (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS importance
       |FROM toks JOIN rq USING (term)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cp_mixture — domain-mixture reweighting.
  // ---------------------------------------------------------------------

  /** Frame-parametric core: the keep/drop decision of mixture
    * downsampling — row `id` survives iff its salted md5 per-mille
    * bucket falls under `rate` (a per-row Column, typically derived
    * from a domain column). Map-side, reproducible. Shared by
    * [[cpMixture]] and `graft.api.Corpus.mixtureSampled`.
    *
    * The per-mille threshold ROUNDS: a bare int cast truncates, and
    * rates with no exact double form (0.3 × 1000 = 299.999…) would
    * silently under-sample (0.3 → 299/1000; 0.003 → 2/1000, a 33%
    * relative error) and diverge from an oracle that rounds.
    */
  def mixtureKept(rate: org.apache.spark.sql.Column,
      id: String = "doc_id", salt: String = "mix"): org.apache.spark.sql.Column =
    md5Bucket(concat(lit(s"$salt:"), col(id).cast("string")), 1000) <
      round(rate * 1000).cast(IntegerType)

  /** Downsample each source to its mixture rate (1.0 / 0.5 / 0.25 by
    * source-number mod 3 — a stand-in for the per-domain weights a real
    * data recipe assigns) and report per-source kept counts and the
    * surviving character budget. Keep/drop is the same salted-hash
    * threshold as [[cpSplit]] — map-side, reproducible; the only shuffle
    * is the per-source count aggregation.
    */
  def cpMixture(s: SparkSession, d: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast(IntegerType)
    val rate = when(srcNum % 3 === 0, 1.0)
      .when(srcNum % 3 === 1, 0.5)
      .otherwise(0.25)
    val kept = mixtureKept(rate)
    documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(kept.cast(LongType)).as("n_kept"),
        sum(when(kept, col("n_chars")).otherwise(0).cast(LongType))
          .as("chars_kept"),
        first(rate).as("rate"))
      .select(col("source"), col("n_docs").cast(LongType),
        col("n_kept").cast(LongType), col("chars_kept").cast(LongType),
        col("rate").cast(DoubleType))
      .orderBy(col("source"))
  }

  val cpMixtureSql: String = {
    val rate = """CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 3 = 0 THEN 1.0
                 |       WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 3 = 1 THEN 0.5
                 |       ELSE 0.25 END""".stripMargin
    val kept = s"(('0x' || substr(${saltedKeySql("mix", "doc_id")}, 1, 8))::UBIGINT % 1000)" +
      s" < CAST(round(($rate) * 1000) AS INTEGER)"
    s"""SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN $kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN $kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
       |  CAST(($rate) AS DOUBLE) AS rate
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_temperature — temperature-flattened domain sampling (α = 0.5).
  // ---------------------------------------------------------------------

  /** Frame-parametric core: per-domain sampling rates that flatten the
    * domain distribution to `share^α` — the temperature sampling of
    * multilingual pretraining (α = 0.5 here, i.e. √-flattening), where
    * a dominant language is down-sampled and the rarest is kept whole.
    * With the rarest domain pinned at rate 1, the totals cancel and
    * `rate_d = √(n_min / n_d)` — a ratio of two exact integer counts
    * through one division and one sqrt, both correctly-rounded IEEE
    * ops, so the rates (and the md5-threshold keep decisions derived
    * from them) are bit-identical on any engine. Unlike [[cpMixture]]'s
    * STATIC recipe rates, these are derived in-plan from corpus stats.
    *
    * Returns one row per domain: `(domain, n_docs, rate)`. Tiny — safe
    * to broadcast into the keep/drop pass at any corpus size.
    */
  def temperatureRates(df: DataFrame, domain: String = "lang"): DataFrame = {
    val counts = df.groupBy(col(domain))
      .agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("n_min"))
    counts.crossJoin(broadcast(minN))
      .select(col(domain), col("n_docs"),
        sqrt(col("n_min").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("rate"))
  }

  /** Gated form: √-flatten the language distribution. Per-language
    * report `(lang, n_docs, n_kept, chars_kept, rate)`; the keep/drop
    * is the same salted-md5 per-mille threshold as [[cpMixture]]
    * (salt `temp`, so decisions are independent of the mixture pass).
    * Shape: two tiny aggregates derive the rates, the rates broadcast
    * back onto the corpus, the decision is map-side, and the only
    * corpus-sized shuffle is the per-language count aggregation.
    */
  def cpTemperature(s: SparkSession, d: String): DataFrame = {
    val kept = mixtureKept(col("rate"), salt = "temp")
    documents(s, d)
      .join(broadcast(temperatureRates(documents(s, d))), Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(kept.cast(LongType)).as("n_kept"),
        sum(when(kept, col("n_chars")).otherwise(0).cast(LongType))
          .as("chars_kept"),
        first(col("rate")).as("rate"))
      .select(col("lang"), col("n_docs").cast(LongType),
        col("n_kept").cast(LongType), col("chars_kept").cast(LongType),
        col("rate").cast(DoubleType))
      .orderBy(col("lang"))
  }

  val cpTemperatureSql: String = {
    val kept = s"(('0x' || substr(${saltedKeySql("temp", "doc_id")}, 1, 8))::UBIGINT % 1000)" +
      " < CAST(round(rate * 1000) AS INTEGER)"
    s"""WITH counts AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |mn AS (SELECT MIN(n_docs) AS n_min FROM counts),
       |rates AS (
       |  SELECT lang, n_docs,
       |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate
       |  FROM counts CROSS JOIN mn)
       |SELECT d.lang, r.n_docs,
       |  CAST(SUM(CASE WHEN $kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN $kept THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
       |  r.rate
       |FROM documents d JOIN rates r USING (lang)
       |GROUP BY d.lang, r.n_docs, r.rate
       |ORDER BY d.lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_overlap — source×source content-overlap matrix.
  // ---------------------------------------------------------------------

  /** Pairwise source-overlap matrix: exact 3-gram-shingle Jaccard
    * between every pair of sources — the corpus-composition audit run
    * before mixing domains (two crawls of the same site, a dataset
    * repackaged under a new name, or a benchmark leaked into a crawl
    * all show up as an off-diagonal spike).
    *
    * Shape: the corpus collapses map-side to DISTINCT (source,
    * shingle-hash) rows FIRST — one partial-aggregated distinct, after
    * which all sizes are |union of shingle vocabularies|, never
    * |corpus|. The pair join is keyed on the 8-byte hash and each
    * hash's postings list is ≤ |sources| rows (it is a DISTINCT
    * relation), so pairs per shingle are bounded by sources² — with
    * tens of sources the quadratic term is trivial at any corpus
    * size, and a shingle shared by every source costs sources²/2
    * rows, not docs². The per-source sizes and the 190-row pair
    * matrix broadcast back. With THOUSANDS of domains the pair space
    * is the all-pairs shape again — the switch-over is per-source
    * MinHash signatures ([[Dedup.ddMinhashLsh]]'s kernel over
    * source-concatenated text) estimating the same matrix from
    * |sources|×64 longs.
    *
    * Zero-overlap pairs are kept (LEFT JOIN against the full
    * source-pair frame): absence of an edge is the finding.
    */
  def cpOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlap(documents(s, d))

  /** Frame-parametric core of [[cpOverlap]] over ANY `(source, text)`
    * frame.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("source"),
        explode(graft.functions.WordShingleHashesExpr
          .wordShingleHashesNative(col("text"), 3)).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("common"))
    val pairs = sizes.select(col("source").as("src_a"), col("n_sh").as("na"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n_sh").as("nb")))
      .filter(col("src_a") < col("src_b"))
    pairs
      .join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        coalesce(col("common"), lit(0L)).as("common"),
        (coalesce(col("common"), lit(0L)).cast(DoubleType) /
          (col("na") + col("nb") - coalesce(col("common"), lit(0L))))
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val cpOverlapSql: String =
    """WITH toks AS (
      |  SELECT source, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substr(md5(s0), 1, 16)) AS UBIGINT) AS s
      |  FROM (SELECT source,
      |          unnest(list_transform(range(1, len(t) - 1),
      |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s0
      |        FROM toks WHERE len(t) >= 3) raw),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
      |common AS (
      |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT sa.source AS src_a, sb.source AS src_b, sa.n_sh AS na, sb.n_sh AS nb
      |  FROM sizes sa CROSS JOIN sizes sb WHERE sa.source < sb.source)
      |SELECT p.src_a, p.src_b, p.na, p.nb,
      |  COALESCE(c.common, 0) AS common,
      |  CAST(COALESCE(c.common, 0) AS DOUBLE) / (p.na + p.nb - COALESCE(c.common, 0)) AS jaccard
      |FROM pairs p LEFT JOIN common c ON p.src_a = c.src_a AND p.src_b = c.src_b
      |ORDER BY p.src_a, p.src_b""".stripMargin

  // ---------------------------------------------------------------------
  // cp_domain_cap — per-domain quota capping.
  // ---------------------------------------------------------------------

  val DomainCap = 15

  /** Per-domain quota cap: keep at most [[DomainCap]] documents per
    * `source`, chosen by quality — the standard anti-domination pass a
    * web corpus runs before mixing (one mirror-heavy crawl domain must
    * not become 40% of the training set; C4 and Gopher both cap
    * per-domain contributions). Ranking reuses THE [[TextAnalysis
    * .qualityScore]] definition, so the cap and the quality filter can
    * never disagree about what "good" means; quality ties break by
    * `doc_id` (descending, matching the struct order) so the kept set
    * is deterministic.
    *
    * Runs through the custom bounded-heap operator
    * ([[graft.plans.TopKPerGroup]]): one hash exchange on `source`,
    * a size-[[DomainCap]] heap per domain, NO per-domain sort — the
    * shape that survives a 100 TB corpus where a single domain can be
    * terabytes (the `row_number` window form the ORACLE uses would
    * sort that domain in full on one task). Empty docs rank with
    * quality −1 (below every real score) instead of NULL so both
    * engines order them identically.
    */
  def cpDomainCap(s: SparkSession, d: String): DataFrame =
    domainCapped(documents(s, d)).orderBy(col("doc_id"))

  /** Frame-parametric core of [[cpDomainCap]] over ANY
    * `(doc_id, source, text)` frame.
    */
  def domainCapped(docs: DataFrame, cap: Int = DomainCap): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      coalesce(TextAnalysis.qualityScore(tokens(col("text"))), lit(-1.0))
        .as("quality"))
    graft.plans.TopK.perGroup(
      scored, Seq("source"), struct(col("quality"), col("doc_id")), cap)
  }

  val cpDomainCapSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""SELECT doc_id, source, quality
       |FROM (
       |  SELECT doc_id, source, quality,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id DESC) AS rn
       |  FROM (
       |    SELECT doc_id, source,
       |      COALESCE(CASE WHEN len($toksSql) > 0
       |        THEN ${TextAnalysis.qualityScoreSql(toksSql)} END, -1.0) AS quality
       |    FROM documents) q) r
       |WHERE rn <= $DomainCap
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_dup_sample — duplicate-aware (cluster-weighted) sampling.
  // ---------------------------------------------------------------------

  /** Keep-probability denominator resolution: the md5 draw is uniform
    * over [0, 10^6), so `draw × m < 10^6` keeps a member of an m-doc
    * duplicate cluster with probability 1/m — all in INTEGER math (no
    * float threshold whose rounding could flip a row between engines).
    */
  val DupSampleRes = 1000000L

  /** Duplicate-aware sampling: every document draws an independent
    * keep decision with probability 1/m, where m is the size of its
    * duplicate cluster — so each cluster contributes ONE document in
    * expectation, without coordination between its members. This is
    * the soft alternative to hard dedup ([[Dedup.ddExact]]'s
    * keep-the-min): it preserves intra-cluster diversity (a different
    * member survives under a different salt) and needs no per-cluster
    * winner election — the decision is a pure projection of
    * (doc_id, m), map-side after the one cluster-size join.
    *
    * The cluster key here is the first-10-token prefix fingerprint
    * (the same key [[Dedup.ddExact]] reports as `fp_prefix10` — the
    * only key with non-trivial clusters on this corpus); any cluster
    * assignment plugs in (MinHash-band clusters at scale). Scale
    * shape: one groupBy on the fingerprint (cluster sizes), one join
    * back (both sides hashed on `fp`, AQE-broadcast when the size
    * table is small), then a map-side integer compare per row.
    */
  def cpDupSample(s: SparkSession, d: String): DataFrame =
    dupSampled(
      documents(s, d).select(col("doc_id"),
        md5(concat_ws(" ", slice(tokens(col("text")), 1, 10))).as("fp")))
      .orderBy(col("doc_id"))

  /** Frame-parametric core of [[cpDupSample]] over ANY `(doc_id, fp)`
    * frame, `fp` being any duplicate-cluster key.
    */
  def dupSampled(docs: DataFrame): DataFrame = {
    val sizes = docs.groupBy(col("fp")).agg(count(lit(1)).as("cluster_size"))
    docs.join(sizes, "fp")
      .withColumn("draw",
        md5Bucket(concat(lit("dupsample:"), col("doc_id").cast("string")),
          DupSampleRes.toInt))
      .select(col("doc_id"), col("cluster_size"), col("draw"),
        (col("draw") * col("cluster_size") < DupSampleRes).as("kept"))
  }

  val cpDupSampleSql: String =
    s"""WITH fp AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[1:10], ' ')) AS fp
       |  FROM documents),
       |sized AS (
       |  SELECT doc_id, fp,
       |    CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS cluster_size
       |  FROM fp)
       |SELECT doc_id, cluster_size,
       |  CAST(('0x' || substr(${saltedKeySql("dupsample", "doc_id")}, 1, 8))::UBIGINT % $DupSampleRes AS BIGINT) AS draw,
       |  CAST(('0x' || substr(${saltedKeySql("dupsample", "doc_id")}, 1, 8))::UBIGINT % $DupSampleRes AS BIGINT) * cluster_size < $DupSampleRes AS kept
       |FROM sized
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cp_waterfill — exact integer waterfilling token allocation.
  // ---------------------------------------------------------------------

  /** Waterfilling token allocation across domains: give every domain an
    * equal share of the training budget, except that no domain can
    * contribute more tokens than it has — small domains saturate at
    * their capacity and the freed budget waterfalls to the rest. The
    * fair-mixing allocator behind "cap the head, keep the tail whole"
    * budget splits (the same fairness rule as max-min fair bandwidth
    * sharing), here in EXACT INTEGER form: allocations are computed
    * closed-form with window functions — no iterative λ search — and
    * sum to the budget to the token.
    *
    * Closed form on the capacity-ascending order: domain i saturates
    * iff `P_{i−1} + c_i·(n−i+1) ≤ B` (filling everyone to at least
    * `c_i` after capping the smaller domains fits the budget); the
    * condition is monotone along the order, so the saturated set is a
    * prefix. The remaining budget divides evenly over the unsaturated
    * suffix — integer `DIV`, with the `MOD` remainder handed one token
    * each to the first unsaturated domains, so `Σ alloc = B` exactly
    * (when `B ≤ Σc`; the default budget is `Σc DIV 2`).
    *
    * Scale shape: the corpus aggregates ONCE (map-side partials) onto
    * one row per domain; every window below runs over that ≤|domains|
    * relation — the global windows are deliberate and safe at any
    * corpus size because their input is domain-count-sized, never
    * corpus-sized.
    */
  def cpWaterfill(s: SparkSession, d: String): DataFrame =
    waterfillAlloc(
      documents(s, d)
        .select(col("lang").as("domain"),
          size(tokens(col("text"))).cast(LongType).as("t"))
        .groupBy(col("domain")).agg(sum(col("t")).as("c")))
      .orderBy(col("domain"))

  /** Frame-parametric core of [[cpWaterfill]] over ANY `(domain, c)`
    * capacity frame. `budget` defaults to half the total capacity.
    */
  def waterfillAlloc(caps: DataFrame, budget: Option[Long] = None): DataFrame = {
    // BOUNDED GLOBAL WINDOWS: both specs run over the per-DOMAIN
    // capacity table (one row per domain after the groupBy upstream),
    // never the corpus — plan-audited in PlanAuditSpec
    val byCap = Window.orderBy(col("c"), col("domain"))
    val all = Window.partitionBy(lit(1))
    caps
      .withColumn("i", row_number().over(byCap))
      .withColumn("pp", sum(col("c")).over(
        byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      // integer DIV, not `/` (Spark's Divide is double — exact only
      // below 2^53; a token total on a real corpus is not)
      .withColumn("budget", budget.map(lit(_).cast(LongType)).getOrElse {
        sum(col("c")).over(all)
      })
      .withColumn("budget",
        if (budget.isDefined) col("budget") else expr("budget DIV 2"))
      .withColumn("saturated",
        col("pp") - col("c") + col("c") * (col("n") - col("i") + 1) <= col("budget"))
      .withColumn("k", sum(when(col("saturated"), 1L).otherwise(0L)).over(all))
      .withColumn("psat",
        sum(when(col("saturated"), col("c")).otherwise(0L)).over(all))
      .withColumn("alloc",
        when(col("saturated"), col("c")).otherwise {
          val r = col("budget") - col("psat")
          val u = col("n") - col("k")
          val base = expr("(budget - psat) DIV (n - k)")
          val rem = r - base * u
          base + when(col("i") - col("k") <= rem, 1L).otherwise(0L)
        })
      .select(col("domain"), col("c").as("n_tokens"),
        col("budget"), col("alloc"), col("saturated"))
  }

  /** The waterfill chain as reusable CTE text: expects a CTE
    * `capsCte(domain, c)` in scope, yields `wf(domain, c, budget,
    * alloc, saturated)` with budget = Σc // 2. Shared by the gated
    * [[cpWaterfillSql]] mirror and [[Pipeline]]'s composed `pipe_mix`.
    */
  private[operators] def waterfillCtesSql(capsCte: String): String =
    s"""wf_staged AS (
       |  SELECT domain, c,
       |    CAST(ROW_NUMBER() OVER ord AS BIGINT) AS i,
       |    CAST(SUM(c) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
       |    CAST(SUM(c) OVER () // 2 AS BIGINT) AS budget
       |  FROM $capsCte
       |  WINDOW ord AS (ORDER BY c, domain)),
       |wf_flagged AS (
       |  SELECT *, pp - c + c * (n - i + 1) <= budget AS saturated
       |  FROM wf_staged),
       |wf_scal AS (
       |  SELECT *,
       |    CAST(SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
       |    CAST(SUM(CASE WHEN saturated THEN c ELSE 0 END) OVER () AS BIGINT) AS psat
       |  FROM wf_flagged),
       |wf AS (
       |  SELECT domain, c, budget,
       |    CAST(CASE WHEN saturated THEN c
       |         ELSE (budget - psat) // (n - k)
       |              + (CASE WHEN i - k <= (budget - psat) % (n - k) THEN 1 ELSE 0 END)
       |    END AS BIGINT) AS alloc,
       |    saturated
       |  FROM wf_scal)""".stripMargin

  val cpWaterfillSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH caps AS (
       |  SELECT lang AS domain, CAST(SUM(len($toksSql)) AS BIGINT) AS c
       |  FROM documents GROUP BY lang),
       |${waterfillCtesSql("caps")}
       |SELECT domain, c AS n_tokens, budget, alloc, saturated
       |FROM wf
       |ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_datacard — the per-source corpus release summary.
  // ---------------------------------------------------------------------

  /** Per-source data card: the one-page summary a corpus RELEASE ships
    * (Datasheets for Datasets / Dolma-style) — for every source: doc
    * and token counts, language spread (distinct langs + dominant lang
    * with its share), exact-duplicate rate (1 − distinct fingerprints /
    * docs), mean heuristic quality, and the exact median length. One
    * composed plan over certified cores: [[graft.functions.fingerprintMd5]]
    * (the `dd_exact` key), [[TextAnalysis.qualityScore]] (the `ta_quality`
    * formula), [[Percentiles.exactSelect]] (the `q26` selection core).
    *
    * Determinism discipline: every ratio is ONE IEEE division of exact
    * integers — quality is floor-quantized to 6 decimals per doc (the
    * `cp_importance` pattern) so the per-source mean is an exact long
    * sum; the dominant language is an order-free `max(struct(count,
    * lang))` argmax, never a window rank.
    *
    * Scale shape: four independent sub-aggregates, each partial-
    * aggregated — per-source moments (one pass), distinct fingerprints
    * (narrow `(source, fp)` rows, two-level aggregate instead of a
    * `countDistinct` expand which would triple the shuffle), language
    * counts (≤ sources×langs rows), and the histogram-selection median
    * (no per-group sort — the window-rank form would sort each source's
    * rows in ONE task). The joins unify ≤|sources| summary rows —
    * broadcast by size — so the corpus itself is never joined or
    * re-shuffled wholesale.
    */
  def cpDatacard(s: SparkSession, d: String): DataFrame =
    dataCard(documents(s, d)).orderBy(col("source"))

  /** Frame-parametric core of [[cpDatacard]] over ANY `(text, lang,
    * source, n_chars)` corpus frame.
    */
  def dataCard(docs: DataFrame): DataFrame = {
    val toksC = tokens(col("text"))
    val base = docs.select(
      col("source"), col("lang"), col("n_chars"),
      fingerprintMd5(col("text")).as("fp"),
      size(toksC).cast(LongType).as("n_tok"),
      floor(when(size(toksC) > 0, TextAnalysis.qualityScore(toksC))
        .otherwise(lit(0.0)) * lit(1000000.0)).cast(LongType).as("q6"))
    val moments = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(col("q6")).as("q_sum6"))
    val distinctFp = base.select(col("source"), col("fp")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val topLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(max(struct(col("c").as("c"), col("lang").as("l"))).as("t"),
        count(lit(1)).as("n_langs"))
    val median = Percentiles.exactSelect(
      docs.select(col("source"), col("n_chars")),
      "source", "n_chars", Seq(("p50_chars", 0.5)))
    moments
      .join(broadcast(distinctFp), "source")
      .join(broadcast(topLang), "source")
      .join(broadcast(median), "source")
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("t.l").as("top_lang"),
        (col("t.c").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("top_lang_share"),
        ((col("n_docs") - col("n_fp")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_rate"),
        (col("q_sum6").cast(DoubleType) /
          (col("n_docs").cast(DoubleType) * lit(1000000.0)))
          .as("avg_quality"),
        col("p50_chars"))
  }

  /** DuckDB mirror: the same four sub-aggregates (the median via
    * [[Percentiles.exactSql]], op-for-op with the selection core) and
    * the same single-division ratios over exact integers. The struct
    * argmax compares field-by-field in declaration order in both
    * engines, so language ties break identically (max lang string).
    */
  val cpDatacardSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH base AS (
       |  SELECT source, lang, n_chars,
       |    md5(lower(trim(text))) AS fp,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    CAST(FLOOR(CASE WHEN len($toksSql) > 0
       |      THEN ${TextAnalysis.qualityScoreSql(toksSql)}
       |      ELSE 0.0 END * 1000000.0) AS BIGINT) AS q6
       |  FROM documents),
       |moments AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(SUM(q6) AS BIGINT) AS q_sum6
       |  FROM base GROUP BY source),
       |dfp AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp
       |  FROM (SELECT DISTINCT source, fp FROM base) GROUP BY source),
       |lc AS (
       |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM base GROUP BY source, lang),
       |tl AS (
       |  SELECT source, MAX({'c': c, 'l': lang}) AS t,
       |    CAST(COUNT(*) AS BIGINT) AS n_langs
       |  FROM lc GROUP BY source),
       |pct AS (
       |${Percentiles.exactSql("documents", "source", "n_chars",
          Seq(("p50_chars", 0.5)))})
       |SELECT m.source, m.n_docs, m.n_tokens, tl.n_langs,
       |  t.l AS top_lang,
       |  CAST(t.c AS DOUBLE) / CAST(m.n_docs AS DOUBLE) AS top_lang_share,
       |  CAST(m.n_docs - dfp.n_fp AS DOUBLE) / CAST(m.n_docs AS DOUBLE) AS dup_rate,
       |  CAST(m.q_sum6 AS DOUBLE) / (CAST(m.n_docs AS DOUBLE) * 1000000.0) AS avg_quality,
       |  pct.p50_chars
       |FROM moments m
       |JOIN dfp USING (source) JOIN tl ON tl.source = m.source
       |JOIN pct ON pct.source = m.source
       |ORDER BY m.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cp_curriculum — quality-decile curriculum ordering.
  // ---------------------------------------------------------------------

  /** Curriculum ordering: assign every non-empty document a GLOBAL
    * quality decile (0 = lowest) plus a reproducible salted-md5
    * shuffle key within its decile — the sort key
    * `(decile, curriculum_key)` a curriculum-scheduled training run
    * writes its shards in (ascending for easy-to-hard warmup,
    * descending for quality-annealed final epochs), shuffled within
    * each quality band so the band's docs arrive in random order.
    *
    * Decile fences are the exact interpolated p10..p90 of the quality
    * score ([[Percentiles.exact]] over one global group — a 1-row,
    * 9-column frame that broadcasts); `decile` counts the fences
    * strictly below the doc's score, so ties at a fence land in the
    * lower band identically in both engines (the fence doubles and
    * the score doubles are both certified IEEE-exact cross-engine —
    * `ta_quality` / `ta_length_tails` pin the arithmetic).
    *
    * Scale shape: one tiny fence aggregate (the global-group rank
    * window ranks scores, not the corpus — at 100 TB use
    * [[Percentiles.exactSelect]], same answers), a broadcast join,
    * map-side decile + md5 key, and the presentation sort. The
    * operator never global-sorts the corpus; the CONSUMER sorts by
    * the emitted key at write time, which is the shuffle it was
    * already paying for shard layout.
    */
  def cpCurriculum(s: SparkSession, d: String): DataFrame =
    curriculumFromScored(cachedQualityScored(s, d))

  /** Frame-parametric core of [[cpCurriculum]] over ANY
    * `(doc_id, text)` frame.
    */
  def curriculumOrdered(docs: DataFrame): DataFrame =
    // materialize the narrow scored relation ONCE: the fence selection
    // makes several passes over it (per-group stats, bin counts,
    // bracketing-row picks), and each would otherwise re-run the
    // corpus-sized tokenize + stopword scoring scan
    curriculumFromScored(qualityScoredRel(docs).localCheckpoint())

  /** The narrow per-doc quality-score relation `(doc_id,
    * quality_score, __fence_g)` of every non-empty document. */
  private def qualityScoredRel(docs: DataFrame): DataFrame =
    docs
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(tokens(col("text"))).as("quality_score"),
        lit(1).as("__fence_g"))

  /** [[qualityScoredRel]] of the corpus as a session artifact, so
    * repeated executions of the gated query score the corpus once (the
    * per-doc quality table is a QA artifact a pipeline persists next to
    * its other per-doc scores). Guards in [[Artifacts]].
    */
  private val cachedQualityScored = Artifacts.declare("qscore")(
    (s, d) => qualityScoredRel(documents(s, d)))

  /** The fence-selection + decile tail of [[curriculumOrdered]] over an
    * already-scored `(doc_id, quality_score, __fence_g)` relation.
    */
  private def curriculumFromScored(qs: DataFrame): DataFrame = {
    // exactSelect, not exact: the fence group is ONE global group, so
    // the rank-window form would sort every score in a single task —
    // the histogram-selection form finds the same bracketing rows
    // (bitwise-identical fences) with map-side passes only
    val fences = Percentiles.exactSelect(qs, "__fence_g", "quality_score",
      (1 to 9).map(i => (s"__f$i", i / 10.0)))
    val decile = (1 to 9).map(i =>
      when(col("quality_score") > col(s"__f$i"), 1).otherwise(0))
      .reduce(_ + _).cast(IntegerType)
    qs.join(broadcast(fences), "__fence_g")
      .select(col("doc_id"), col("quality_score"),
        decile.as("decile"),
        saltedKey("curr", col("doc_id")).as("curriculum_key"))
      .orderBy(col("decile"), col("curriculum_key"), col("doc_id"))
  }

  val cpCurriculumSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val decile = (1 to 9).map(i =>
      s"CASE WHEN q.quality_score > p.__f$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH q AS (
       |  SELECT doc_id, ${TextAnalysis.qualityScoreSql(toksSql)} AS quality_score,
       |    1 AS __g
       |  FROM documents WHERE len($toksSql) > 0),
       |pct AS (
       |${Percentiles.exactSql("q", "__g", "quality_score",
          (1 to 9).map(i => (s"__f$i", i / 10.0)))})
       |SELECT q.doc_id, q.quality_score,
       |  CAST($decile AS INTEGER) AS decile,
       |  ${saltedKeySql("curr", "q.doc_id")} AS curriculum_key
       |FROM q JOIN pct p USING (__g)
       |ORDER BY decile, curriculum_key, q.doc_id""".stripMargin
  }

  val gated: Seq[Gated] = Seq(
    Gated("cp_curriculum",   cpCurriculum,  cpCurriculumSql),
    Gated("cp_datacard",     cpDatacard,    cpDatacardSql),
    Gated("cp_waterfill",    cpWaterfill,   cpWaterfillSql),
    Gated("cp_domain_cap",   cpDomainCap,   cpDomainCapSql),
    Gated("cp_dup_sample",   cpDupSample,   cpDupSampleSql),
    Gated("cp_overlap",      cpOverlap,     cpOverlapSql),
    Gated("cp_temperature",  cpTemperature, cpTemperatureSql),
    Gated("cp_split",        cpSplit,       cpSplitSql),
    Gated("cp_stratified",   cpStratified,  cpStratifiedSql),
    Gated("cp_shuffle",      cpShuffle,     cpShuffleSql),
    Gated("cp_mixture",      cpMixture,     cpMixtureSql),
    Gated("cp_token_budget", cpTokenBudget, cpTokenBudgetSql),
    Gated("cp_importance",   cpImportance,  cpImportanceSql),
  )
}
