package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions._
import graft.operators.{Pipeline, TextAnalysis}

/** DataFrame-first corpus API: the engine's training-data operators as
  * composable `DataFrame => DataFrame` transforms over ANY frame with
  * the right columns — not just the driver-gated query registry (which
  * binds them to the test corpus loaders). Column contracts:
  *
  *  - document ops take `(id, text)` column names (defaults
  *    `doc_id`/`text`);
  *  - embedding ops take `(id, vector)` with `vector: array<float>`;
  *  - everything lowers to the same Catalyst expressions the gated
  *    queries use, so behavior is exactly what the DuckDB oracle
  *    certifies.
  *
  * `import graft.api.Corpus.implicits._` adds the fluent `df.chunked()`
  * style; the plain functions below are the API.
  */
object Corpus {

  // ---------------------------------------------------------------- text

  /** Lowercased, whitespace-collapsed text in `outCol`. */
  def normalized(df: DataFrame, text: String = "text",
      outCol: String = "norm_text"): DataFrame =
    df.withColumn(outCol,
      regexp_replace(lower(trim(col(text))), "\\s+", " "))

  /** Heuristic quality score (stopword-ratio × length prior) in
    * `outCol`; null for token-less docs.
    */
  def qualityScored(df: DataFrame, text: String = "text",
      outCol: String = "quality_score"): DataFrame = {
    val t = tokens(col(text))
    df.withColumn(outCol,
      when(size(t) > 0, TextAnalysis.qualityScore(t)))
  }

  /** Exact-dedup fingerprint (md5 of normalized text) in `outCol`. */
  def fingerprinted(df: DataFrame, text: String = "text",
      outCol: String = "fingerprint"): DataFrame =
    df.withColumn(outCol, fingerprintMd5(col(text)))

  /** Keep one row per distinct normalized text: the row with the lowest
    * `id`. One keyed shuffle on the fingerprint.
    */
  def exactDeduped(df: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("__fp"))
    df.withColumn("__fp", fingerprintMd5(col(text)))
      .withColumn("__keep", col(id) === min(col(id)).over(w))
      .filter(col("__keep"))
      .drop("__fp", "__keep")
  }

  /** Fixed-size overlapping context windows: one output row per chunk
    * with `chunk_idx`, `chunk_text`, `chunk_tokens` appended. Pure
    * map-side generation; the geometry is [[Pipeline.chunkIdxCol]] /
    * [[Pipeline.chunkSliceCol]] — the same single definition the gated
    * queries use.
    */
  def chunked(df: DataFrame, text: String = "text",
      chunkTokens: Int = Pipeline.ChunkTokens,
      stride: Int = Pipeline.ChunkStride): DataFrame = {
    val sliceOf = (start: Column) =>
      Pipeline.chunkSliceCol("__t", start, chunkTokens, stride)
    df.withColumn("__t", tokens(col(text)))
      .filter(size(col("__t")) > 0)
      .withColumn("chunk_idx", Pipeline.chunkIdxCol("__t", stride))
      .withColumn("chunk_text", concat_ws(" ", sliceOf(col("chunk_idx"))))
      .withColumn("chunk_tokens", size(sliceOf(col("chunk_idx"))))
      .drop("__t")
  }

  /** Incremental exact dedup: rows of `df` whose normalized-text
    * fingerprint does NOT already appear in `seen` (a previously-kept
    * corpus) — the batch-over-batch dedup of an accreting pipeline
    * (yesterday's corpus is `seen`, today's crawl is `df`). One
    * fingerprint-keyed LEFT ANTI join; only fingerprints shuffle, never
    * documents meeting documents. Within-batch duplicates survive —
    * compose with [[exactDeduped]] for full hygiene.
    *
    * `bloomPrefilter = true` switches to the TB-scale plan (the gated
    * `dd_incremental_bloom` form): a distributed Bloom filter over the
    * seen fingerprints is probed map-side, so bloom-negative batch rows
    * skip the shuffle entirely and only the positive sliver (true dups
    * + FPP false positives) goes through the anti-join confirm.
    * Result-identical either way; the crossover is where the batch-side
    * shuffle dominates the extra scan, not at test scale.
    */
  def dedupAgainst(df: DataFrame, seen: DataFrame,
      text: String = "text", seenText: String = "text",
      bloomPrefilter: Boolean = false): DataFrame =
    if (bloomPrefilter) {
      val batch = df.withColumn("__fp", fingerprintMd5(col(text)))
      val seenFp = seen.select(fingerprintMd5(col(seenText)).as("__fp"))
      graft.operators.Dedup.bloomAntiJoin(batch, seenFp, "__fp")
        .drop("__fp")
    } else
      df.join(
        seen.select(fingerprintMd5(col(seenText)).as("__seen_fp")).distinct(),
        fingerprintMd5(col(text)) === col("__seen_fp"), "left_anti")

  /** MinHash signatures (`array<bigint>`, 64 rows) in `outCol` for docs
    * with ≥ 3 tokens. Map-side; feed to [[nearDupPairs]] or bucket the
    * band slices yourself.
    */
  def minhashSigned(df: DataFrame, text: String = "text",
      outCol: String = "minhash_sig"): DataFrame =
    df.withColumn("__sh", WordShinglesExpr.wordShinglesNative(col(text), 3))
      .filter(size(col("__sh")) > 0)
      .withColumn(outCol, MinHashSig.minhashSig(col("__sh")))
      .drop("__sh")

  /** Banded-LSH near-dup candidate pairs `(a_id, b_id, est_jaccard)`
    * with signature-estimated Jaccard ≥ `minJaccard` — delegates to
    * [[graft.operators.Dedup.nearDupCandidates]], the one definition of
    * the banding. One shuffle on the band keys; the quadratic pair
    * space is never formed. NOTE the recall floor: the fixed 16×4
    * banding cannot honor thresholds below ~0.3 (it rejects them).
    */
  def nearDupPairs(df: DataFrame, id: String = "doc_id",
      text: String = "text", minJaccard: Double = 0.3): DataFrame =
    graft.operators.Dedup.nearDupCandidates(
      df.select(col(id).as("doc_id"), col(text).as("text")), minJaccard)

  /** [[nearDupPairs]] with the EXACT-FIRST collapse
    * ([[graft.operators.Dedup.nearDupEdgesExactFirst]]): byte-identical
    * docs collapse to one canonical before the banded join and
    * re-expand as star pairs (est 1.0) after — component-equivalent
    * output, but the quadratic banding only ever sees distinct texts.
    * The form to reach for on mirror-heavy corpora: the k=80 replica
    * rung measured 29 s vs 220 s for the raw banding (SCALING.md).
    */
  def nearDupPairsExactFirst(df: DataFrame, id: String = "doc_id",
      text: String = "text", minJaccard: Double = 0.3): DataFrame =
    graft.operators.Dedup.nearDupEdgesExactFirst(
      df.select(col(id).as("doc_id"), col(text).as("text")), minJaccard)

  /** Per-doc boilerplate score `(doc_id, source, n_pos, n_boiler,
    * boiler_ratio)`: the fraction of the doc's shingle positions that
    * occur in ≥ `minDocs` distinct documents — C4's repeated-template
    * drop/keep signal. Gated form: `ta_boilerplate`.
    */
  def boilerplateScored(df: DataFrame, id: String = "doc_id",
      text: String = "text", source: String = "source",
      window: Int = graft.operators.TextAnalysis.BoilerWindow,
      minDocs: Int = graft.operators.TextAnalysis.BoilerMinDocs): DataFrame =
    graft.operators.TextAnalysis.boilerplateScored(
      df.select(col(id).as("doc_id"), col(source).as("source"),
        col(text).as("text")), window, minDocs)

  /** Asymmetric near-subset pairs `(a_id, b_id, common, na, nb,
    * contain_a, contain_b)` at either-direction containment ≥
    * `threshold` — catches a doc swallowed whole by a longer one where
    * symmetric Jaccard stays low. Stop-shingles above the `maxDf`
    * doc-frequency cap are excluded from both sides of the ratio, which
    * is also what bounds the inverted-index join at scale. Gated form:
    * `dd_containment`.
    */
  def containmentPairs(df: DataFrame, id: String = "doc_id",
      text: String = "text",
      maxDf: Int = graft.operators.Dedup.MaxShingleDf,
      threshold: Double = graft.operators.Dedup.ContainThreshold): DataFrame =
    graft.operators.Dedup.containmentPairs(
      df.select(col(id).as("doc_id"), col(text).as("text")),
      maxDf, threshold)

  /** Maximal duplicated token spans (Lee-et-al-style substring dedup):
    * one row per span `(doc_id, span_start, span_end, span_len,
    * n_windows)` — positions whose `window`-token context occurs more
    * than once anywhere in the corpus, coalesced into maximal runs.
    * Delegates to [[graft.operators.Dedup2.duplicatedSpans]]; nothing
    * quadratic (a window repeated k times costs k rows, not k² pairs).
    */
  def duplicatedSpans(df: DataFrame, id: String = "doc_id",
      text: String = "text",
      window: Int = graft.operators.Dedup2.SpanWindow): DataFrame =
    graft.operators.Dedup2.duplicatedSpans(
      df.select(col(id).as("doc_id"), col(text).as("text")), window)

  /** BPE merge-table induction (Sennrich et al.): learn the first `n`
    * merge rules from the corpus — `(rank, left, right, merged, freq)`
    * per rule. After one corpus-sized wordcount every round runs over
    * the distinct vocabulary. Delegates to
    * [[graft.operators.TextAnalysis.bpeMerges]].
    */
  def bpeMerges(df: DataFrame, n: Int = TextAnalysis.BpeTrainMerges,
      text: String = "text"): DataFrame =
    graft.operators.TextAnalysis.bpeMerges(
      df.select(col(text).as("text")), n)

  /** BPE training at PRODUCTION vocabulary sizes: the standard batched
    * greedy trainer ([[graft.operators.TextAnalysis.bpeMergesDisjoint]]
    * — up to `maxPerRound` symbol-disjoint merges per Spark round,
    * skipping conflicts), cutting a 30k-merge train from 30k driver
    * rounds to ~n/batch. Same-inventory approximation of exact
    * sequential greedy (degenerates to it at `maxPerRound = 1`);
    * use [[bpeMerges]] when bit-exact sequential order matters.
    */
  def bpeMergesAtScale(df: DataFrame, n: Int,
      maxPerRound: Int = TextAnalysis.BpeMaxMergesPerRound,
      text: String = "text"): DataFrame =
    graft.operators.TextAnalysis.bpeMergesDisjoint(
      df.select(col(text).as("text")), n, maxPerRound)

  /** Curriculum ordering key: global quality decile (0 = lowest; exact
    * interpolated p10..p90 fences over the corpus's quality scores)
    * plus a reproducible salted-md5 shuffle key within the decile —
    * `(doc_id, quality_score, decile, curriculum_key)`. Sort shards by
    * `(decile, curriculum_key)` ascending for easy-to-hard warmup or
    * descending for quality-annealed final epochs. Delegates to
    * [[graft.operators.CorpusOps.curriculumOrdered]]; the fences
    * broadcast and the assignment is map-side — the corpus is never
    * globally sorted by the operator itself.
    */
  def curriculumOrdered(df: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    graft.operators.CorpusOps.curriculumOrdered(
      df.select(col(id).as("doc_id"), col(text).as("text")))

  /** Per-document BPE token counts under a learned merge table:
    * `(doc_id, n_words, n_chars, n_bpe_tokens)`. Trains in-plan when
    * `merges` is empty (pass [[bpeMerges]]' collected rows to reuse a
    * trained tokenizer). The merge chain runs over the distinct
    * vocabulary and occurrences broadcast-join it — merge work scales
    * with |vocab|, not corpus bytes. Delegates to
    * [[graft.operators.TextAnalysis.bpeAppliedWith]].
    */
  def bpeApplied(df: DataFrame,
      merges: Seq[(String, String)] = Nil,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val shaped = df.select(col(id).as("doc_id"), col(text).as("text"))
    if (merges.nonEmpty)
      graft.operators.TextAnalysis.bpeAppliedWith(shaped, merges)
    else graft.operators.TextAnalysis.bpeApplied(shaped)
  }

  /** The release TOKENIZATION job as one composed plan: PII scrub →
    * duplicated-span removal → exact prefix dedup → BPE tokenize each
    * kept doc under `merges` → pack the token stream into fixed-budget
    * training sequences per doc-id shard. Returns the per-document
    * pack manifest a trainer consumes: `(doc_id, shard, n_bpe_tokens,
    * start_off, pack_id, crosses_boundary)`. Delegates to
    * [[graft.operators.Pipeline.tokenizePacked]]; every stage is the
    * linear partial-aggregated shape its standalone operator
    * certifies, and the pack windows run per shard, never globally.
    */
  def tokenizePacked(df: DataFrame, merges: Seq[(String, String)],
      id: String = "doc_id", text: String = "text"): DataFrame =
    graft.operators.Pipeline.tokenizePacked(
      df.select(col(id).as("doc_id"), col(text).as("text")), merges)

  /** Span-level dedup APPLIED (the transform, not the report): remove
    * every duplicated `window`-token span except its first occurrence
    * in (doc_id, position) order and return the affected docs with
    * their cleaned text — one row per doc that lost tokens,
    * `(doc_id, orig_len, new_len, n_removed, cleaned_text)`. Delegates
    * to [[graft.operators.Dedup2.spansRemoved]]; linear end to end.
    */
  def spansRemoved(df: DataFrame, id: String = "doc_id",
      text: String = "text",
      window: Int = graft.operators.Dedup2.SpanWindow): DataFrame =
    graft.operators.Dedup2.spansRemoved(
      df.select(col(id).as("doc_id"), col(text).as("text")), window)

  /** Duplicate clusters: connected components over the banded-LSH
    * near-dup graph at estimated Jaccard ≥ `threshold` — one row per
    * clustered doc `(doc_id, comp, cluster_size, is_canonical)`, where
    * `comp` is the min doc_id of the component (the canonical
    * survivor). The transitive closure keeps exactly one doc per chain
    * A~B~C even when A≁C, which the pair-local "drop the higher id"
    * rule over-drops. Edge source is the scalable LSH banding
    * ([[nearDupPairs]]), so thresholds below its ~0.3 recall floor are
    * rejected; pass a handmade edge frame to
    * [[graft.operators.Dedup2.clusterize]] directly for other graphs.
    */
  def dupClusters(df: DataFrame, id: String = "doc_id",
      text: String = "text",
      threshold: Double = graft.operators.Dedup2.ClusterThreshold): DataFrame =
    graft.operators.Dedup2.clusterize(
      nearDupPairs(df, id, text, threshold)
        .select(col("a_id"), col("b_id")))

  /** [[dupClusters]] through the exact-first edge builder (the gated
    * `dd_cluster_xf` over YOUR frame): identical clusters, mirror-proof
    * edge cost — see [[nearDupPairsExactFirst]].
    */
  def dupClustersExactFirst(df: DataFrame, id: String = "doc_id",
      text: String = "text",
      threshold: Double = graft.operators.Dedup2.ClusterThreshold): DataFrame =
    graft.operators.Dedup2.clusterize(
      nearDupPairsExactFirst(df, id, text, threshold)
        .select(col("a_id"), col("b_id")))

  /** Per-doc top-`topK` terms by tf-idf `(doc_id, term, tf, df, tfidf,
    * rnk)` — the smoothed-ratio idf of
    * [[graft.operators.TextAnalysis.tfidfTopTerms]] (log-free, so the
    * score is bit-identical across engines; same ranking as the log
    * form).
    */
  def tfidfTopTerms(df: DataFrame, id: String = "doc_id",
      text: String = "text", topK: Int = 5): DataFrame =
    graft.operators.TextAnalysis.tfidfTopTerms(
      df.select(col(id).as("doc_id"), col(text).as("text")), topK)

  /** Heavy-hitter terms via the space-saving sketch: one row per
    * sketch counter `(term, est, err)`, est desc — every term with
    * true count > total/`k` guaranteed present, `est`/`est - err`
    * bracketing its true count. Map-side partials ship ≤ `k` counters
    * per partition; the vocabulary never crosses the shuffle
    * (delegates to [[graft.functions.SpaceSavingTopK]]).
    */
  def heavyHitters(df: DataFrame, text: String = "text",
      k: Int = graft.operators.HeavyHitters.Capacity): DataFrame =
    graft.functions.SpaceSaving.unpacked(
      df.select(explode(graft.functions.tokens(col(text))).as("term"))
        .agg(graft.functions.SpaceSaving.topK(col("term"), k).as("sk")))

  /** ANALYZE-style column profile `(col_name, n_rows, n_nonnull,
    * n_distinct, min_s, max_s)` — delegates to
    * [[graft.operators.Relational4.columnProfile]]. The stats
    * pre-flight for layout/join decisions;
    * [[graft.operators.SkewJoin.skewReport]] is the skew-specific
    * companion.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.operators.Relational4.columnProfile(df, cols)

  /** Unigram-frequency quality scores `(doc_id, n_tokens, freq_sum,
    * mean_freq)` — the CCNet-style "how ordinary is this vocabulary"
    * proxy, exact integers end-to-end with one final division.
    * Delegates to [[graft.operators.TextAnalysis.unigramScored]].
    */
  def unigramScored(df: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    graft.operators.TextAnalysis.unigramScored(
      df.select(col(id).as("doc_id"), col(text).as("text")))

  /** Per-domain length-tail flags: docs outside their `stratum`'s exact
    * [p10, p90] length band, marked `short`/`long` — the per-domain
    * outlier trim of a corpus-QA pass. The fence table (one row per
    * domain) broadcasts; the corpus never shuffles. Delegates to the
    * same percentile core as the gated `ta_length_tails`.
    */
  def lengthTails(df: DataFrame, lengthCol: String = "n_chars",
      stratum: String = "source"): DataFrame = {
    import graft.operators.{Percentiles, TextAnalysis}
    val fences = Percentiles.exact(df, stratum, lengthCol,
      Seq(("p10", TextAnalysis.TailLo), ("p90", TextAnalysis.TailHi)))
    df.join(broadcast(fences), Seq(stratum))
      .filter(col(lengthCol) < col("p10") || col(lengthCol) > col("p90"))
      .withColumn("tail",
        when(col(lengthCol) < col("p10"), "short").otherwise("long"))
  }

  /** PII scrubbing: appends `n_urls`, `n_emails`, `n_ips`,
    * `n_phones` and the scrubbed `redacted` text — sequential
    * redaction (URL → email → IP → phone), each count taken on the
    * previous step's output so an entity inside an earlier, longer
    * match never double-counts. Delegates to
    * [[graft.operators.Pii.piiScrubbed]]; pure map-side.
    */
  def piiScrubbed(df: DataFrame, text: String = "text"): DataFrame =
    graft.operators.Pii.piiScrubbed(df, text)

  /** Train/eval contamination check: per eval doc, the fraction of its
    * `gram`-gram shingles present anywhere in `train` — delegates to
    * [[graft.operators.Pipeline.contamination]]. Both frames need
    * `(id, text)` columns. Shingles travel as 8-byte hashes; documents
    * never meet documents, only shingle hashes do.
    */
  def contamination(train: DataFrame, eval_ : DataFrame,
      id: String = "doc_id", text: String = "text",
      gram: Int = Pipeline.ContamGram): DataFrame = {
    def shaped(df: DataFrame) =
      df.select(col(id).as("doc_id"), col(text).as("text"))
    Pipeline.contamination(shaped(train), shaped(eval_), gram)
  }

  // ------------------------------------------------------- bookkeeping

  /** Deterministic train/val/test split: `bucket` (0-99) and `split`
    * columns keyed on the salted md5 of `id` — pure map-side, and a
    * row's split never changes as the corpus grows. Delegates to
    * [[graft.operators.CorpusOps.hashSplit]].
    */
  def hashSplit(df: DataFrame, id: String = "doc_id",
      trainPct: Int = graft.operators.CorpusOps.TrainPct,
      valPct: Int = graft.operators.CorpusOps.ValPct): DataFrame =
    graft.operators.CorpusOps.hashSplit(df, id, trainPct, valPct)

  /** Keep exactly ceil(`rate` × stratum size) rows of each `stratum`,
    * chosen by hash order — domain proportions preserved exactly, no
    * stratum vanishes. Delegates to
    * [[graft.operators.CorpusOps.stratifiedSample]].
    */
  def stratifiedSampled(df: DataFrame, stratum: String = "source",
      id: String = "doc_id",
      rate: Double = graft.operators.CorpusOps.StratRate): DataFrame =
    graft.operators.CorpusOps.stratifiedSample(df, stratum, id, rate)

  /** Reproducible global shuffle position in `pos` (1..N by md5 order)
    * via two-phase bucket enumeration — no single-partition sort.
    * Delegates to [[graft.operators.CorpusOps.globalShuffle]].
    */
  def shuffled(df: DataFrame, id: String = "doc_id"): DataFrame =
    graft.operators.CorpusOps.globalShuffle(df, id)

  /** Token-exact subsample: keep docs in reproducible shuffled order
    * until `budgetTokens` fills (greedy cut — the doc straddling the
    * budget is kept). Two-phase running sum, no single-partition
    * window. Delegates to [[graft.operators.CorpusOps.tokenBudget]].
    */
  def tokenBudget(df: DataFrame, budgetTokens: Long,
      id: String = "doc_id", text: String = "text"): DataFrame =
    graft.operators.CorpusOps.tokenBudget(
      df, org.apache.spark.sql.functions.lit(budgetTokens), id, text)

  /** DSIR-style importance score of every `(doc_id, text)` row against
    * the target slice selected by `isTarget` (a boolean Column over the
    * frame) — `(doc_id, n_tokens, imp_sum, importance)`, higher =
    * more target-like. Exact-integer aggregation; the vocabulary
    * shuffles, documents never do. Delegates to
    * [[graft.operators.CorpusOps.importanceScored]]; select with
    * [[tokenBudget]] for "the most target-like N tokens".
    */
  def importanceScored(df: DataFrame, isTarget: Column): DataFrame =
    graft.operators.CorpusOps.importanceScored(df, isTarget)

  /** Domain-mixture downsampling: keep each row with its domain's
    * probability from `rates` (md5-threshold — deterministic per id,
    * exact in expectation). Domains absent from `rates` keep
    * `defaultRate`. Filter is map-side.
    */
  def mixtureSampled(df: DataFrame, rates: Map[String, Double],
      stratum: String = "source", id: String = "doc_id",
      defaultRate: Double = 1.0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (dom, r)) =>
      when(col(stratum) === dom, lit(r)).otherwise(acc)
    }
    df.filter(graft.operators.CorpusOps.mixtureKept(rate, id))
  }

  /** Temperature-flattened domain sampling (α = 0.5): per-domain rates
    * `√(n_min/n_d)` derived in-plan (rarest domain kept whole, dominant
    * ones √-downsampled — the multilingual-pretraining reweighting),
    * then the salted-md5 keep decision map-side. Returns the kept rows.
    * Gated form: `cp_temperature`.
    */
  def temperatureSampled(df: DataFrame, domain: String = "lang",
      id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    df.join(
      broadcast(graft.operators.CorpusOps.temperatureRates(df, domain)
        .select(col(domain), col("rate"))), Seq(domain))
      .filter(graft.operators.CorpusOps.mixtureKept(col("rate"), id, "temp"))
      .drop("rate")
  }

  /** Per-domain quota cap: keep at most `cap` docs per `source`,
    * quality-best first, through the bounded-heap `TopKPerGroup`
    * operator — one hash exchange, no per-domain sort. Delegates to
    * [[graft.operators.CorpusOps.domainCapped]]; gated form
    * `cp_domain_cap`.
    */
  def domainCapped(df: DataFrame,
      cap: Int = graft.operators.CorpusOps.DomainCap): DataFrame =
    graft.operators.CorpusOps.domainCapped(df, cap)

  /** Duplicate-aware sampling over a `(doc_id, fp)` frame (`fp` = any
    * duplicate-cluster key): each row keeps with probability
    * 1/cluster-size via an integer md5 draw — one survivor per cluster
    * in expectation, no winner election. Delegates to
    * [[graft.operators.CorpusOps.dupSampled]]; gated form
    * `cp_dup_sample`.
    */
  def dupSampled(df: DataFrame): DataFrame =
    graft.operators.CorpusOps.dupSampled(df)

  /** Corpus bigram-coherence scores over a `(doc_id, text)` frame:
    * pooled conditional probability of each doc's adjacent word pairs
    * under the corpus's own bigram counts — the log-free perplexity
    * stand-in. Delegates to
    * [[graft.operators.TextAnalysis.bigramScored]]; gated form
    * `ta_bigram_score`.
    */
  def bigramScored(df: DataFrame): DataFrame =
    TextAnalysis.bigramScored(df)

  /** Exact integer waterfilling token allocation over a `(domain, c)`
    * capacity frame: equal budget shares, small domains saturate at
    * capacity, the freed budget waterfalls on — closed-form windows,
    * no iteration, `Σ alloc = budget` to the token. Delegates to
    * [[graft.operators.CorpusOps.waterfillAlloc]]; gated form
    * `cp_waterfill`.
    */
  def waterfillAlloc(caps: DataFrame, budget: Option[Long] = None): DataFrame =
    graft.operators.CorpusOps.waterfillAlloc(caps, budget)

  /** Per-document repetition statistics (`n_words`,
    * `n_distinct_words`, `dup_word_frac`, `n_grams`, `top_gram_frac`)
    * from the one-pass native kernel — zero shuffles. Delegates to
    * [[TextAnalysis.repetitionScored]], the one definition of the
    * derived fractions.
    */
  def repetitionScored(df: DataFrame, text: String = "text"): DataFrame =
    TextAnalysis.repetitionScored(df, text)

  // ---------------------------------------------------------- embeddings

  /** Semantic duplicate clusters (SemDeDup-style): connected
    * components over cosine-similarity edges in embedding space, with
    * candidates from the multi-table hyperplane-LSH buckets — the
    * corpus shuffles once on (table, bucket), the quadratic pair
    * space is never formed. One row per clustered vector `(vec_id,
    * comp, cluster_size, is_canonical)`. Delegates to
    * [[graft.operators.Dedup2.semanticClusters]].
    */
  def semanticDupClusters(df: DataFrame, id: String = "vec_id",
      vec: String = "embedding",
      threshold: Double = graft.operators.Dedup2.SemanticThreshold): DataFrame =
    graft.operators.Dedup2.semanticClusters(
      df.select(col(id).as("vec_id"), col(vec).as("embedding")), threshold)

  /** Symmetric int8 quantization of a float-vector column: `absmax`,
    * `scale` (127/absmax), and the CSV-serialized `q8` vector —
    * native one-pass kernel, map-side; scale/q8 null for zero vectors.
    * Delegates to [[graft.operators.Similarity.quantized]], the one
    * definition of the quantization columns.
    */
  def quantizedI8(df: DataFrame, vec: String = "embedding"): DataFrame =
    graft.operators.Similarity.quantized(df, vec)

  /** Exact cosine top-k neighbors of each query vector: queries are
    * broadcast, the corpus never shuffles — delegates to
    * [[graft.operators.Similarity.cosineTopK]]. Output
    * `(q_id, rank, c_id, cosine)`. Set `excludeSelfIds = false` when
    * corpus and queries are UNRELATED frames: the default drops
    * `q_id == c_id` pairs, which is right only when the queries are
    * drawn from the corpus.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelfIds: Boolean = true): DataFrame =
    graft.operators.Similarity.cosineTopK(
      corpus, queries, k, id, vec, excludeSelfIds)

  /** kNN self-join: EVERY vector's top-`k` neighbors via IVF cell
    * probing — a shuffle equi-join on the cell key (nothing broadcast;
    * the quadratic pair space is never formed), the all-pairs shape
    * behind embedding-dedup graphs and retrieval training sets.
    * Centroids are kmeans-TRAINED (Lloyd over the deterministic
    * `vec_id % step == 0` sample, seeded from its first k rows by
    * rank) at
    * `numCells` cells, defaulting (numCells = 0) to the corpus-derived
    * `⌈√n⌉` — the balanced flat-IVF law (assignment n·k vs candidate
    * scoring n·probes·(n/k) equalize; see `numCellsFor`); pass a
    * pre-trained centroid frame via
    * [[graft.operators.Similarity.knnJoinWithCentroids]] instead to
    * skip training. Output `(q_id, rank, c_id, cosine)`; approximate by
    * construction (a true neighbor in an unprobed cell is missed).
    */
  def knnJoin(df: DataFrame, k: Int = graft.operators.Similarity.KnnK,
      id: String = "vec_id", vec: String = "embedding",
      numCells: Int = 0): DataFrame = {
    val S = graft.operators.Similarity
    val corpus = df.select(col(id).as("vec_id"), col(vec).as("embedding"))
    val n = corpus.count()
    val cells = if (numCells > 0) numCells else S.numCellsFor(n)
    val cent = S.trainedCentroids(corpus, cells, n).localCheckpoint()
    S.knnJoinWithCentroids(corpus, cent, k)
  }

  /** Product-quantized top-k (the memory-bound ANN): train the 8×256
    * PQ codebooks over `corpus` (sampled Lloyd, one sub-keyed plan),
    * encode it as 8-byte codes (32× compression at dim 64), score
    * `queries` against the codes via ADC with a broadcast per-query
    * LUT, and exact-refine the shortlist — FAISS's IndexPQ + refine,
    * as one declarative plan. Output `(q_id, rank, c_id, cosine)` with
    * `cosine` the EXACT refined score; recall floors for the gated form
    * are pinned in the `sim_pq` CORRECTNESS row. Pass a pre-trained
    * codebook frame via [[graft.operators.Similarity.pqTopK]] to skip
    * training (e.g. to reuse one index across many query batches).
    *
    * NOTE: like [[knnJoin]], the training SAMPLE is `id % step == 0` —
    * roughly-dense ids sample evenly (the corpus convention); heavily
    * clustered sparse ids would skew it. Seeding is rank-based and
    * sparse-id-safe.
    */
  /** MMR-diversified top-k: rerank each query's `poolK`-candidate
    * cosine pool with maximal marginal relevance (greedy
    * `λ·relevance − (1−λ)·max-sim-to-selected`), so one dense
    * duplicate cluster cannot fill the result list. Delegates to
    * [[graft.operators.Similarity.mmrRerank]]; the rerank touches
    * only |queries|·poolK² narrow rows keyed by query — plug an
    * ANN shortlist in as `corpus` at serving scale.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame,
      k: Int = graft.operators.Similarity.MmrK,
      poolK: Int = graft.operators.Similarity.MmrPoolK,
      lambda: Double = graft.operators.Similarity.MmrLambda,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    graft.operators.Similarity.mmrRerank(
      corpus, queries, k, poolK, lambda, id, vec)

  /** MMR over a SERVED pool (the gated `sim_mmr_served` posture on
    * YOUR frames): candidates come from a prebuilt [[AnnIndex]]'s
    * shortlist, and the in-pool vectors come from the index's own
    * inverted lists — the corpus never enters the rerank, so a
    * diversified result list over a 100 TB corpus costs one
    * probe-kernel pass plus pool-sized greedy rounds. Build the handle
    * once with [[buildAnnIndex]]; rerank any number of query batches.
    */
  def mmrTopKServed(queries: DataFrame, index: AnnIndex,
      k: Int = graft.operators.Similarity.MmrK,
      poolK: Int = graft.operators.Similarity.MmrPoolK,
      lambda: Double = graft.operators.Similarity.MmrLambda,
      numProbes: Int = graft.operators.Similarity.NumProbes,
      excludeSelf: Boolean = true): DataFrame = {
    val cv = index.lists.select(col("c_id"), col("cv_c").as("v"),
      col("cn_c").as("n"))
    val pool = index.topK(queries, poolK, numProbes, excludeSelf)
      .join(cv, "c_id")
      .select(col("q_id"), col("c_id"), col("cosine").as("rel"),
        col("v"), col("n"))
    graft.operators.Similarity.mmrRerankFromPool(pool, k, lambda)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelfIds: Boolean = true): DataFrame = {
    val S = graft.operators.Similarity
    val cent = S.pqIndex(corpus, corpus.count(), id, vec).localCheckpoint()
    S.pqTopK(corpus, queries, cent, k, id, vec, excludeSelfIds)
  }

  /** IVF×PQ top-k — the composition that serves a 100 TB corpus from
    * RAM (FAISS's `IVFx,PQy`): a ⌈√n⌉-cell trained coarse quantizer
    * bounds each query's candidates to its probed cells, 8-byte PQ
    * codes make the candidate scan a memory-bandwidth ADC pass, and
    * the shortlist is exact-refined in full precision. Both indexes
    * train in-plan off one shared corpus count; recall is gated in the
    * `sim_ivfpq` CORRECTNESS row. Output `(q_id, rank, c_id, cosine)`
    * with `cosine` the EXACT refined score. Pass pre-trained frames
    * via [[graft.operators.Similarity.ivfPqTopK]] to skip training.
    * The [[pqTopK]] sampling NOTE applies.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelfIds: Boolean = true): DataFrame = {
    val S = graft.operators.Similarity
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("embedding"))
    val n = c.count()
    val ivfCent = S.trainedCentroids(c, S.numCellsFor(n), n).localCheckpoint()
    val pqCent = S.pqIndex(corpus, n, id, vec).localCheckpoint()
    S.ivfPqTopK(corpus, queries, ivfCent, pqCent, k, id, vec, excludeSelfIds)
  }

  /** Contrastive-pair mining for retrieval training (the gated
    * `pipe_pairs` pass over YOUR frames): quality-floor + exact
    * prefix-fingerprint dedup on `docs`, link survivors to `vectors`
    * by id, then mine each kept document's top-`k` nearest kept
    * documents from a √n-cell IVF index trained on the CLEANED corpus.
    * Dedup-before-index is the production order — duplicates would
    * otherwise mine themselves as degenerate positives. Output
    * `(q_id, rank, c_id, cosine)`.
    */
  def minedPairs(docs: DataFrame, vectors: DataFrame,
      k: Int = graft.operators.Pipeline.PairsK): DataFrame =
    graft.operators.Pipeline.minedPairs(docs, vectors, k)

  /** Build a flat-IVF [[AnnIndex]] over a `(id, vec)` frame — the
    * handle every serve-side entry here accepts, so one training pass
    * answers many query batches (the session-cache posture of the
    * gated queries, in explicit-handle form for caller-owned frames).
    */
  def buildAnnIndex(corpus: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): AnnIndex =
    Indexes.buildAnn(corpus, id, vec)

  /** Persist a built [[AnnIndex]] into versioned storage so it
    * OUTLIVES the session — the durability half of build-once/
    * serve-many: a production pipeline trains the index in one job
    * and serves it for weeks from other sessions, where the handle's
    * session-scoped checkpoints die with the JVM. Returns the saved
    * index version.
    *
    * Consistency across the TWO artifact tables (`<name>__centroids`,
    * `<name>__lists` — the lists are cell-assigned UNDER a specific
    * centroid table, so mixing versions breaks recall silently): both
    * are committed first, then a one-row POINTER table (`<name>__ann`)
    * records their exact versions in a single atomic commit. Readers
    * resolve the pointer, never "latest of each" — the lakehouse
    * multi-table-snapshot pattern built from the versioned-commit
    * primitive. Re-saving appends new versions; old index versions
    * stay loadable (time travel), and [[graft.sources.Storage
    * .vacuumVersions]] is the retention policy.
    */
  def saveAnnIndex(index: AnnIndex, storage: graft.sources.Storage,
      name: String): Long = saveAnnIndex(index, storage, name, -1L)

  /** [[saveAnnIndex]] recording the CORPUS version the index was built
    * from (a versioned table's committed version): the pointer then
    * pins `(centroids version, lists version, corpus version)`, which
    * is what lets [[refreshAnnIndex]] later consume exactly the corpus
    * delta `> corpusVersion` — the nightly maintenance loop's
    * checkpoint, stored WITH the artifact versions so index and corpus
    * can never disagree about where "new data" starts.
    */
  def saveAnnIndex(index: AnnIndex, storage: graft.sources.Storage,
      name: String, corpusVersion: Long): Long = {
    val A = Pointers.Ann
    A.commit(storage, name,
      "centroids_version" -> A.put(storage, name, "centroids", index.centroids),
      "lists_version" -> A.put(storage, name, "lists", index.lists),
      "corpus_version" -> corpusVersion)
  }

  /** CDC-driven INCREMENTAL maintenance of a persisted ANN index — the
    * nightly loop a production pipeline runs, composed from the three
    * primitives built for it: consume the corpus rows appended since
    * the version the pointer pinned
    * ([[graft.sources.Storage.readVersionedSince]] — reads ONLY the
    * delta directories, zero base scans), assign each new vector to
    * its home cell under the FROZEN centroids (the `sim_ivf_upsert`
    * kernel — one O(|delta|·√n) pass, no retraining, no touch of the
    * existing lists), append the delta lists as a new version
    * (O(delta) write), and publish a new pointer pinning (unchanged
    * centroids version, new lists version, consumed corpus version) in
    * one atomic commit. Serve(refreshed) is row-identical to
    * serve(lists rebuilt from scratch under the same centroids) —
    * assignment is per-vector (spec-pinned); what drifts under pure
    * upsert is only training-set coverage, the standing cue for
    * periodic full retrains. Returns the new pointer version; a no-op
    * (corpus unchanged) returns the current one.
    *
    * The corpus table must expose `(id, vec)` columns; refuses a
    * pointer that never recorded a corpus version (re-save with
    * [[saveAnnIndex]]'s corpus-version form first). The delta read
    * survives corpus-table compactions (the `#base=` content-equal
    * chain in [[graft.sources.Storage.readVersionedSince]]), so the
    * refresh composes with the auto-compacting streaming sink; only a
    * rollback to before the consumed version or a vacuumed diff window
    * still refuses — there an honest full rebuild beats silently
    * double-indexing re-packed rows.
    */
  def refreshAnnIndex(storage: graft.sources.Storage, name: String,
      corpusTable: String, id: String = "vec_id",
      vec: String = "embedding"): Long =
    Pointers.Ann.refresh(storage, name, "corpus", corpusTable,
      _.select(col(id).as("vec_id"), col(vec).as("embedding")))(
      annFold(storage, name, _, _, _, _))

  /** The ann family's delta fold, shared by the families that nest one:
    * assign the `n` vectors of `delta` to their home cells under the
    * FROZEN centroids ann pointer row `ptr` pins, append them to the
    * lists, and re-pin ann family `name` with `corpusV` consumed and
    * `stale_rows` grown by `n`. Returns the new ann pointer version.
    */
  private def annFold(storage: graft.sources.Storage, name: String,
      ptr: org.apache.spark.sql.Row, delta: DataFrame, n: Long,
      corpusV: Long): Long = {
    val A = Pointers.Ann
    val cent = A.load(storage, name, ptr, "centroids")
    try {
      val vl = A.appendOnto(storage, name, ptr, "lists",
        graft.operators.Similarity.kernelProbeCells(delta, cent, 1, "c_id",
          "cv_c", "cn_c"))
      A.recommit(storage, name, ptr, "lists_version" -> vl,
        "corpus_version" -> corpusV,
        "stale_rows" -> (A.get(ptr, "stale_rows") + n))
    } finally graft.operators.Artifacts.freeLocalCheckpoint(cent)
  }

  /** Compact a persisted ANN index family: every nightly
    * [[refreshAnnIndex]] appends ONE small delta directory to the
    * lists table, so a long-lived index accretes the classic
    * small-files problem (per-file open/footer cost comes to dominate
    * the serve scan) AND pins every historical delta directory into
    * each new manifest — [[vacuumAnnIndex]] alone can never reclaim
    * them because the retained pointer's manifest still references
    * them all. This verb re-snapshots the POINTER'S pinned lists
    * version into one fresh directory and commits a new pointer
    * pinning (unchanged centroids, compacted lists, unchanged corpus
    * version) — serve-identical by construction (same rows), one
    * atomic pointer swap, and the next refresh appends onto the
    * compacted version. Run it at a lower cadence than the refresh
    * (the rewrite is O(index), the refresh O(delta) — the same dial
    * as any lakehouse OPTIMIZE), then [[vacuumAnnIndex]] actually
    * frees the superseded delta directories. Returns the new pointer
    * version.
    */
  def compactAnnIndex(storage: graft.sources.Storage, name: String,
      version: Long = -1L): Long =
    // `version` (default: latest) exists for composed families whose
    // OWN pointer pins an ann-pointer version: after a crashed parent
    // refresh the ann family's latest pointer can be an orphan the
    // parent never served — compact what the parent pins, not latest
    Pointers.Ann.compact(storage, name, version)

  /** [[compactAnnIndex]] for a persisted hybrid family: the dense
    * arm's lists compact, the postings table re-snapshots at its
    * pinned version (each O(delta) [[refreshHybridIndex]] lexical
    * append accretes one delta directory, exactly like the lists),
    * and the hybrid pointer re-pins both — frozen lexical stats and
    * staleness carry over unchanged.
    */
  def compactHybridIndex(storage: graft.sources.Storage,
      name: String): Long = Pointers.Hybrid.compact(storage, name)

  /** [[compactAnnIndex]] for a persisted pair-mining family: the
    * fingerprints table and the nested index's lists both accrete one
    * delta directory per [[refreshPairMiningBase]] — re-snapshot both
    * at their pinned versions and re-pin the pmb pointer (corpus
    * versions unchanged).
    */
  def compactPairMiningBase(storage: graft.sources.Storage,
      name: String): Long = Pointers.PairMining.compact(storage, name)

  /** Retention policy for a persisted ANN index family — the verb that
    * makes save/refresh sustainable: every [[saveAnnIndex]] /
    * [[refreshAnnIndex]] appends versions to the three tables forever,
    * and raw [[graft.sources.Storage.vacuumVersions]] on the artifact
    * tables would be UNSAFE (keep-last-K can drop a version an old
    * retained pointer still pins — the index then fails to load, or
    * worse loses list files mid-serve). This verb derives the keep set
    * from the pointers themselves: retain the last `keepLastPointers`
    * pointer versions, then vacuum the centroids/lists tables keeping
    * EXACTLY the versions those retained pointers pin (plus each
    * table's latest) — a pinned artifact version can never be
    * reclaimed while a loadable pointer references it. Time travel to
    * vacuumed pointer versions refuses (their manifests are gone);
    * everything retained loads and serves unchanged. Returns total
    * (manifests deleted, data directories deleted) across the family.
    */
  def vacuumAnnIndex(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.Ann.vacuum(storage, name, keepLastPointers)

  /** [[vacuumAnnIndex]] for a persisted tokenizer family (see
    * [[saveTokenizer]]): retain the last `keepLastPointers` tokenizer
    * pointers, vacuum merges/vocab keeping the pinned versions.
    */
  def vacuumTokenizer(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.Tok.vacuum(storage, name, keepLastPointers)

  /** [[vacuumAnnIndex]] for a persisted hybrid family (see
    * [[saveHybridIndex]]) — one level deeper: retained hybrid pointers
    * pin postings versions AND dense-arm POINTER versions, so the
    * postings table vacuums against the former and the nested
    * `<name>__dense` ann family vacuums keeping exactly the latter
    * (then its own centroids/lists against what THOSE retained dense
    * pointers pin).
    */
  def vacuumHybridIndex(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.Hybrid.vacuum(storage, name, keepLastPointers)

  /** The one-row pointer read every load/refresh/vacuum/describe path
    * shares: resolve `table` at `version` (default: latest) and refuse
    * a malformed pointer — zero or many rows — BEFORE anyone acts on
    * it (for the destructive paths, acting on an arbitrary row of a
    * torn pointer is the silent failure this guard exists to prevent).
    */
  private[api] def pointerRow(storage: graft.sources.Storage, table: String,
      version: Long = -1L): org.apache.spark.sql.Row = {
    val rs = storage.readVersioned(table, version).collect()
    require(rs.length == 1,
      s"pointer '$table' must hold exactly one row" +
        (if (version >= 0) s" at version $version" else "") +
        s", got ${rs.length}")
    rs(0)
  }

  /** Rehydrate a persisted [[AnnIndex]] (see [[saveAnnIndex]]) at
    * `version` (default: latest save): resolve the pointer row, read
    * the two artifact tables at their PINNED versions, and
    * re-materialize session-local checkpoints so serves never re-read
    * the store. The handle is independent of the one that was saved —
    * `close()` it like any built index.
    */
  def loadAnnIndex(storage: graft.sources.Storage, name: String,
      version: Long = -1L): AnnIndex = {
    val ptr = Pointers.Ann.row(storage, name, version)
    AnnIndex(Pointers.Ann.load(storage, name, ptr, "centroids"),
      Pointers.Ann.load(storage, name, ptr, "lists"))
  }

  /** Train a [[Tokenizer]] over a `(doc_id, text)` corpus: `n` BPE
    * merges from the production-scale batched trainer
    * ([[graft.operators.TextAnalysis.bpeMergesDisjoint]] — measured to
    * corpus saturation in SCALING.md) plus the distinct-word
    * vocabulary, both materialized — the build-once half of the
    * tokenizer's build-once/apply-many lifecycle. Persist with
    * [[saveTokenizer]].
    */
  def buildTokenizer(docs: DataFrame,
      n: Int = TextAnalysis.BpeTrainMerges,
      maxPerRound: Int = TextAnalysis.BpeMaxMergesPerRound): Tokenizer =
    Tokenizer(
      TextAnalysis.bpeMergesDisjoint(docs, n, maxPerRound).localCheckpoint(),
      TextAnalysis.bpeVocabOf(docs).localCheckpoint())

  /** Persist a trained [[Tokenizer]] so it outlives the session — the
    * same versioned-tables + atomic-pointer pattern as
    * [[saveAnnIndex]]: the merge table and vocabulary land as two
    * versioned tables, then a one-row `<name>__tok` pointer pins their
    * exact versions in a single commit (a merge table applied over a
    * DIFFERENT save's vocabulary would trip the apply plan's coverage
    * guard at best, mis-chunk silently at worst — the pointer makes
    * the pairing unmixable). Re-saving appends new versions; old
    * tokenizers stay loadable (time travel — reproduce last month's
    * token counts bit-for-bit). Returns the saved version.
    */
  def saveTokenizer(tok: Tokenizer, storage: graft.sources.Storage,
      name: String): Long = {
    val T = Pointers.Tok
    T.commit(storage, name,
      "merges_version" -> T.put(storage, name, "merges", tok.merges),
      "vocab_version" -> T.put(storage, name, "vocab", tok.vocab))
  }

  /** Rehydrate a persisted [[Tokenizer]] at `version` (default: latest
    * save) — ZERO training passes (spec-pinned): the merge table and
    * vocabulary read back at their pinned versions as session-local
    * checkpoints, and [[Tokenizer.applied]] is byte-identical to the
    * tokenizer that was saved.
    */
  def loadTokenizer(storage: graft.sources.Storage, name: String,
      version: Long = -1L): Tokenizer = {
    val ptr = Pointers.Tok.row(storage, name, version)
    Tokenizer(Pointers.Tok.load(storage, name, ptr, "merges"),
      Pointers.Tok.load(storage, name, ptr, "vocab"))
  }

  // ------------------------------------------------- TextRank model

  /** Build a [[RankModel]] over a `(doc_id, text)` corpus: the ONE
    * corpus pass producing the directed pair rollup, then the
    * vocabulary-bounded graph + ten fixed-point PageRank iterations
    * (see [[graft.operators.GraphRank]]). Both artifacts materialize;
    * persist with [[saveRankModel]] so corpus-level keywords and
    * keyphrases serve across sessions with ZERO corpus scans.
    */
  def buildRankModel(docs: DataFrame): RankModel = {
    val GR = graft.operators.GraphRank
    val pairs = GR.pairCounts(docs).localCheckpoint()
    // on success the pairs checkpoint is owned by the returned model
    // (freed by its close()); a failed rank stage must not strand it
    // in the block manager for the session lifetime
    try rankModelFromPairs(pairs)
    catch { case t: Throwable =>
      graft.operators.Artifacts.freeLocalCheckpoint(pairs); throw t
    }
  }

  /** The vocabulary-bounded half of [[buildRankModel]]: graph + ranks
    * from an already-materialized pair rollup — what the CDC refresh
    * re-runs after folding a delta (never a corpus scan).
    */
  private def rankModelFromPairs(pairs: DataFrame): RankModel = {
    val GR = graft.operators.GraphRank
    val edges = GR.graphEdges(pairs).localCheckpoint()
    val verts = edges.select(col("src").as("tok")).distinct()
      .localCheckpoint()
    // pageRank returns a materialized checkpoint with its loop
    // internals freed; the graph scaffolding can go once it returns
    try RankModel(pairs, GR.pageRank(edges, verts))
    finally {
      graft.operators.Artifacts.freeLocalCheckpoint(edges)
      graft.operators.Artifacts.freeLocalCheckpoint(verts)
    }
  }

  /** Persist a [[RankModel]] (the [[saveAnnIndex]] pattern): pair
    * rollup and rank table land as versioned tables, and the one-row
    * `<name>__tr` pointer pins (pairs version, ranks version, consumed
    * docs corpus version) in a single commit. Pass the docs table's
    * version to arm [[refreshRankModel]]'s O(delta) fold; -1 records
    * a snapshot-only save (refresh will refuse, naming the fix).
    * Returns the saved pointer version.
    */
  def saveRankModel(model: RankModel, storage: graft.sources.Storage,
      name: String, docsCorpusVersion: Long = -1L): Long = {
    val R = Pointers.TextRank
    R.commit(storage, name,
      "pairs_version" -> R.put(storage, name, "pairs", model.pairs),
      "ranks_version" -> R.put(storage, name, "ranks", model.ranks),
      "docs_version" -> docsCorpusVersion)
  }

  /** Rehydrate a persisted [[RankModel]] at `version` (default: latest
    * save) — zero corpus scans, zero iterations (spec-pinned): both
    * artifact tables read back at their pinned versions as
    * session-local checkpoints, and
    * [[graft.operators.GraphRank.keywords]] /
    * [[graft.operators.GraphRank.keyphrases]] over them are
    * byte-identical to the gated `ta_textrank` / `ta_keyphrase` rows.
    */
  def loadRankModel(storage: graft.sources.Storage, name: String,
      version: Long = -1L): RankModel = {
    val ptr = Pointers.TextRank.row(storage, name, version)
    RankModel(Pointers.TextRank.load(storage, name, ptr, "pairs"),
      Pointers.TextRank.load(storage, name, ptr, "ranks"))
  }

  /** CDC refresh of a persisted [[RankModel]] — O(delta + vocabulary),
    * never a corpus rescan: the pair rollup is ADDITIVE under corpus
    * appends (each document contributes its own adjacent pairs), so
    * the refresh scans ONLY the docs delta, folds its pair counts into
    * the PINNED rollup by summed union (model-sized aggregate), and
    * re-runs the vocabulary-bounded iterations. The fold base is the
    * pointer's pinned pairs version — never "latest" — so a crashed
    * earlier refresh's orphan versions are ignored and re-runs are
    * idempotent by construction (the [[refreshAnnIndex]] posture).
    * Refresh ≡ rebuild bit-for-bit (integer arithmetic end to end;
    * spec-pinned). Returns the new pointer version.
    */
  def refreshRankModel(storage: graft.sources.Storage, name: String,
      docsTable: String): Long = {
    val R = Pointers.TextRank
    R.refresh(storage, name, "docs", docsTable,
        _.select(col("doc_id"), col("text"))) { (ptr, delta, _, head) =>
      val folded = R.read(storage, name, ptr, "pairs")
        .unionAll(graft.operators.GraphRank.pairCounts(delta))
        .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n"))
        .localCheckpoint()
      // a failed rank stage (the continuous loop's crash window) must
      // free the folded rollup's blocks — on success the model's
      // close() below owns them
      val model =
        try rankModelFromPairs(folded)
        catch { case t: Throwable =>
          graft.operators.Artifacts.freeLocalCheckpoint(folded); throw t
        }
      try saveRankModel(model, storage, name, head)
      finally model.close()
    }
  }

  /** [[vacuumAnnIndex]] for a persisted rank-model family: retain the
    * last `keepLastPointers` pointers, vacuum pairs/ranks keeping the
    * pinned versions.
    */
  def vacuumRankModel(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.TextRank.vacuum(storage, name, keepLastPointers)

  /** Cross-modal pair mining over YOUR frames (the gated `mm_pair_mine`
    * pass): top-`k` `texts` neighbors for every `images` vector via a
    * flat-IVF index over the text side, keeping pairs at or above the
    * `minCos` quality floor. Ids are assumed disjoint across the two
    * frames. Output `(img_id, rank, text_id, cosine)`; ranks are
    * assigned BEFORE the floor, so kept ranks may be a sparse prefix
    * of 1..k. Approximate by construction.
    *
    * Pass `index` (from [[buildAnnIndex]] over `texts`) to mine many
    * image batches against ONE trained index — without it, each call
    * trains afresh (correct, but the per-call cost a production pair
    * miner avoids; `CorpusSpec` pins result equality between the two
    * paths and that the served call re-runs no training).
    */
  def crossModalPairs(images: DataFrame, texts: DataFrame,
      k: Int = graft.operators.Multimodal.XModalTopK,
      minCos: Double = graft.operators.Multimodal.XModalMinCos.toDouble,
      id: String = "vec_id", vec: String = "embedding",
      index: Option[AnnIndex] = None): DataFrame = {
    val idx = index.getOrElse(buildAnnIndex(texts, id, vec))
    idx.topK(
        images.select(col(id).as("vec_id"), col(vec).as("embedding")), k)
      .filter(col("cosine") >= minCos)
      .select(col("q_id").as("img_id"), col("rank"),
        col("c_id").as("text_id"), col("cosine"))
  }

  /** Build a [[HybridIndex]] over a `(doc_id, text)` docs frame and
    * its id-linked `(vec_id, embedding)` vectors frame: the BM25
    * postings relation plus the dense [[AnnIndex]], both materialized
    * — the two artifacts a hybrid endpoint persists once.
    */
  def buildHybridIndex(docs: DataFrame, vectors: DataFrame): HybridIndex =
    HybridIndex(
      graft.streaming.DocStreams.bm25Postings(docs).localCheckpoint(),
      buildAnnIndex(vectors))

  /** Persist a built [[HybridIndex]] (see [[saveAnnIndex]] — the same
    * atomic-pointer pattern, one level up): the BM25 postings land as
    * a versioned table, the dense arm saves through [[saveAnnIndex]]
    * under `<name>__dense`, and the one-row `<name>__hybrid` pointer
    * pins (postings version, dense pointer version) in a single
    * commit — so lexical and dense arms can never disagree about
    * which corpus snapshot they index. Returns the saved version.
    *
    * This form records NO consumed-corpus checkpoints: the first
    * [[refreshHybridIndex]] pays one exact postings rebuild and
    * upgrades the pointer; save with the docs-version form to start
    * O(delta) from the first night.
    */
  def saveHybridIndex(index: HybridIndex, storage: graft.sources.Storage,
      name: String): Long = saveHybridIndex(index, storage, name, -1L)

  /** [[saveHybridIndex]] recording the VECTORS corpus version the
    * dense arm was built from (see [[saveAnnIndex]]'s corpus-version
    * form) — what enables [[refreshHybridIndex]] to consume only the
    * vector delta on the next maintenance pass.
    */
  def saveHybridIndex(index: HybridIndex, storage: graft.sources.Storage,
      name: String, vectorsCorpusVersion: Long): Long = {
    val H = Pointers.Hybrid
    H.commit(storage, name,
      "postings_version" -> H.put(storage, name, "postings", index.postings),
      "dense_version" -> saveAnnIndex(index.ann, storage,
        H.nested(name, "dense"), vectorsCorpusVersion))
  }

  /** The FULL [[saveHybridIndex]]: additionally freeze the lexical
    * arm's corpus-global statistics — the per-term document
    * frequencies (as versioned table `<name>__lexdf`, derived from
    * the postings themselves: one row per (doc, term) makes the
    * per-term row count exactly the df the build scored with) and the
    * global (n_docs, sum_dl) pair (computed from `docs`, one
    * tokenize-and-count scan, carried in the pointer row) — and
    * checkpoint the DOCS corpus version consumed. This is what arms
    * [[refreshHybridIndex]]'s O(delta) lexical path: delta docs score
    * under these frozen stats, the same frozen-quantizer pattern the
    * vector arms use (centroids, PQ codebooks).
    */
  def saveHybridIndex(index: HybridIndex, storage: graft.sources.Storage,
      name: String, vectorsCorpusVersion: Long, docs: DataFrame,
      docsCorpusVersion: Long): Long = {
    val H = Pointers.Hybrid
    val vp = H.put(storage, name, "postings", index.postings)
    frozenCommit(storage, name, vp, saveAnnIndex(index.ann, storage,
      H.nested(name, "dense"), vectorsCorpusVersion), docs, docsCorpusVersion)
  }

  /** Freeze the lexical stats from a COMMITTED postings snapshot plus
    * the docs frame, with ZERO re-tokenization (the postings build's
    * own scan was the one tokenize pass): df per term is the per-term
    * posting-row count (one row per (doc, term)), sum_dl sums the
    * per-doc `dl` the postings carry (a zero-token doc has no
    * postings and contributes 0, exactly as the formula's stats do),
    * and n_docs is a metadata-cheap row count of `docs`. Commits the
    * hybrid pointer over them with `stale_docs = 0` and returns its
    * version.
    */
  private def frozenCommit(storage: graft.sources.Storage,
      name: String, postingsV: Long, denseV: Long, docs: DataFrame,
      docsV: Long): Long = {
    val H = Pointers.Hybrid
    val committed =
      storage.readVersioned(H.table(name, "postings"), postingsV)
    val vdf = H.put(storage, name, "lexstats",
      committed.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val sumDl = committed.select(col("doc_id"), col("dl")).distinct()
      .agg(coalesce(sum(col("dl").cast("long")), lit(0L)))
      .collect()(0).getLong(0)
    H.commit(storage, name, "postings_version" -> postingsV,
      "dense_version" -> denseV, "lexdf_version" -> vdf,
      "docs_version" -> docsV, "n_docs" -> docs.count(), "sum_dl" -> sumDl)
  }

  /** Nightly maintenance pass over a persisted hybrid index — O(delta)
    * on BOTH arms:
    *
    *  - the DENSE arm refreshes via [[refreshAnnIndex]] — O(vector
    *    delta) assignment under the frozen centroids, zero retraining;
    *  - the LEXICAL arm APPENDS the delta docs' postings scored under
    *    the FROZEN corpus statistics the pointer pins (per-term df
    *    from `<name>__lexdf`, global n_docs/sum_dl from the pointer
    *    row — see [[graft.streaming.DocStreams.bm25PostingsFrozen]]
    *    for the drift contract: unchanged docs keep EXACT scores,
    *    delta docs score as of the last recalc). `stale_docs` in the
    *    pointer accumulates the drift; [[rebuildHybridPostings]] is
    *    the slow-cadence verb that restores exactness and resets it.
    *    The postings append is base-pinned ([[graft.sources.Storage
    *    .appendVersionedOnto]]) so crashed/double-fired refreshes are
    *    idempotent, exactly like the dense arm's lists append.
    *
    * A pointer saved without frozen stats (the plain
    * [[saveHybridIndex]] forms) takes the exact path once — full
    * postings rebuild from the current docs snapshot — and upgrades
    * itself, so every later refresh is O(delta).
    *
    * One atomic `<name>__hybrid` pointer commit then re-pins both
    * arms — readers never see a half-refreshed pair. Returns the new
    * pointer version.
    */
  def refreshHybridIndex(storage: graft.sources.Storage, name: String,
      docsTable: String, vectorsTable: String): Long = {
    val H = Pointers.Hybrid
    val vd = refreshAnnIndex(storage, H.nested(name, "dense"), vectorsTable)
    val ptr = H.row(storage, name)
    val sinceV = H.pinned(ptr, "docs")
    val dvs = storage.versions(docsTable)
    require(dvs.nonEmpty, s"no versioned docs table '$docsTable'")
    if (sinceV < 0L || H.pinned(ptr, "lexstats") < 0L ||
        !dvs.contains(sinceV) ||
        !H.read(storage, name, ptr, "postings").columns.contains("dl"))
      // exact path: no frozen stats to append under (legacy save), OR
      // the docs table's own retention reclaimed the pinned consumed
      // version (the docs side is fed by its OWN pipeline, whose
      // vacuum does not know this family's checkpoint — see
      // sinkWithHybridRefresh's scaladoc), OR the pinned postings
      // predate the dl-carrying schema (a cross-release warehouse —
      // appending the new schema would trip the append gate). Either
      // way the refresh must not wedge: pay one O(corpus) rebuild,
      // re-freeze stats at the current snapshot, and the next refresh
      // goes O(delta)
      return exactPostingsCommit(storage, name, docsTable, vd)
    // the consume step of PointerLayout.refresh, spelled out because
    // both of its re-pins also carry the dense arm's new pin: the docs
    // head is resolved ONCE and the delta read pinned to it
    val curV = dvs.last
    if (curV == sinceV)
      // docs unchanged: a true no-op when the dense arm is unchanged too,
      // else carry the lexical arm forward and re-pin the dense one
      return if (vd == H.pinned(ptr, "dense")) H.latest(storage, name)
        else H.recommit(storage, name, ptr, "dense_version" -> vd)
    val delta = storage.readVersionedSince(docsTable, sinceV,
        toVersion = curV)
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    try {
      val nDelta = delta.count()
      if (nDelta == 0L)
        return H.recommit(storage, name, ptr, "dense_version" -> vd,
          "docs_version" -> curV)
      val dfRel = H.read(storage, name, ptr, "lexstats")
      val deltaPost = graft.streaming.DocStreams.bm25PostingsFrozen(
        delta, dfRel, H.get(ptr, "n_docs"), H.get(ptr, "sum_dl"))
      val vp = H.appendOnto(storage, name, ptr, "postings", deltaPost)
      H.recommit(storage, name, ptr, "postings_version" -> vp,
        "dense_version" -> vd, "docs_version" -> curV,
        "stale_docs" -> (H.get(ptr, "stale_docs") + nDelta))
    } finally graft.operators.Artifacts.freeLocalCheckpoint(delta)
  }

  /** The slow-cadence EXACT lexical recalc — the second half of the
    * frozen-stats split ([[refreshHybridIndex]] appends O(delta)
    * nightly under stale idf/avgdl; this verb re-scans the docs
    * snapshot, recomputes every posting under the TRUE corpus-global
    * statistics, re-freezes df/n_docs/sum_dl at the new snapshot, and
    * resets `stale_docs` to 0). The dense arm is untouched (its
    * pinned pointer version carries over). Run it when
    * [[describeIndexes]]'s `stale_rows` crosses the drift budget —
    * weekly where the refresh is nightly, the same cadence dial as
    * IVF retraining. Returns the new hybrid pointer version.
    */
  def rebuildHybridPostings(storage: graft.sources.Storage, name: String,
      docsTable: String): Long = {
    exactPostingsCommit(storage, name, docsTable,
      Pointers.Hybrid.pinned(Pointers.Hybrid.row(storage, name), "dense"))
  }

  /** Shared exact-postings commit: rebuild postings + frozen stats
    * from `docsTable`'s head snapshot (pinned once) and commit the
    * upgraded pointer with `stale_docs = 0`, keeping dense arm `vd`.
    */
  private def exactPostingsCommit(storage: graft.sources.Storage,
      name: String, docsTable: String, vd: Long): Long = {
    val dvs = storage.versions(docsTable)
    require(dvs.nonEmpty, s"no versioned docs table '$docsTable'")
    val curV = dvs.last
    val docs = storage.readVersioned(docsTable, curV)
    val vp = Pointers.Hybrid.put(storage, name, "postings",
      graft.streaming.DocStreams.bm25Postings(docs))
    // ONE tokenize pass total: df and sum_dl derive from the
    // committed postings, n_docs from a metadata-cheap count
    frozenCommit(storage, name, vp, vd, docs, curV)
  }

  /** Rehydrate a persisted [[HybridIndex]] at `version` (default:
    * latest save), re-materializing session-local checkpoints for
    * both arms at their pinned versions.
    */
  def loadHybridIndex(storage: graft.sources.Storage, name: String,
      version: Long = -1L): HybridIndex = {
    val H = Pointers.Hybrid
    val ptr = H.row(storage, name, version)
    HybridIndex(H.load(storage, name, ptr, "postings"),
      loadAnnIndex(storage, H.nested(name, "dense"), H.pinned(ptr, "dense")))
  }

  /** CONTINUOUS ingestion with CONTINUOUS index maintenance — the
    * whole production loop as one verb: the vector stream lands in
    * versioned table `corpusTable` through the exactly-once sink
    * (writer-fenced, schema-gated, optionally auto-compacting), and
    * every `refreshEvery` committed batches the persisted ANN index
    * `indexName` consumes the accumulated delta via
    * [[refreshAnnIndex]] — frozen centroids, O(delta), crash-safe.
    *
    * Bootstrap once before the first start: land an initial snapshot,
    * build the index over it, and [[saveAnnIndex]] it with that
    * corpus version — the refresh needs a pointer to advance. The
    * hook is exactly-once per batch id (replays skip it) and
    * SELF-HEALING: a CATCH-UP refresh runs synchronously before the
    * stream starts, so a boundary lost to a crash (the boundary batch
    * replays as a skip and its hook never re-fires) and the tail of a
    * `Trigger.AvailableNow` run (batches after the last multiple of
    * `refreshEvery` end the run un-indexed) are both re-covered at
    * the NEXT start — every refresh consumes everything after the
    * pointer's own checkpoint, not "this batch". For a fully fresh
    * index at the END of an AvailableNow run, call
    * [[refreshAnnIndex]] once after `awaitTermination` — the same
    * one-liner the catch-up runs. A refresh failure fails the stream
    * loudly rather than silently serving a stale index forever; the
    * committed data is untouched and a restart resumes both loops.
    *
    * RETENTION is refresh-aware, not keep-last-K: with auto-compaction
    * on, versions accumulate faster than batches (append + re-snapshot
    * per boundary) and a fixed tail can vacuum the very version the
    * pointer consumed — wedging every later refresh. So `vacuumKeep`
    * here vacuums IN THE HOOK, after the refresh, keeping the last K
    * versions PLUS everything at or after the pointer's consumed
    * version; the consumed version is structurally un-vacuumable no
    * matter how the cadences interleave.
    */
  def sinkWithAnnRefresh(ds: DataFrame, storage: graft.sources.Storage,
      corpusTable: String, checkpointDir: String, indexName: String,
      refreshEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery: Int = 0, vacuumKeep: Int = 0,
      id: String = "vec_id", vec: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkRefreshLoop(ds, storage, corpusTable, checkpointDir, refreshEvery,
      trigger, compactEvery, vacuumKeep, Pointers.Ann, indexName, "corpus")(
      refreshAnnIndex(storage, indexName, corpusTable, id, vec))

  /** [[sinkWithAnnRefresh]] for a persisted [[IvfPqIndex]] — the
    * flagship 100 TB index's continuous loop as one verb: same
    * exactly-once ingestion, same catch-up-at-start and refresh-aware
    * retention, with [[refreshIvfPqIndex]] folding each boundary's
    * delta under BOTH frozen quantizers.
    */
  def sinkWithIvfPqRefresh(ds: DataFrame, storage: graft.sources.Storage,
      corpusTable: String, checkpointDir: String, indexName: String,
      refreshEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery: Int = 0, vacuumKeep: Int = 0,
      id: String = "vec_id", vec: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkRefreshLoop(ds, storage, corpusTable, checkpointDir, refreshEvery,
      trigger, compactEvery, vacuumKeep, Pointers.IvfPq, indexName, "corpus")(
      refreshIvfPqIndex(storage, indexName, corpusTable, id, vec))

  /** [[sinkWithAnnRefresh]] for a persisted [[HybridIndex]] — the
    * retrieval shape a production RAG corpus serves, as one continuous
    * verb: the VECTOR stream lands in `vectorsTable` through the
    * exactly-once sink, and every `refreshEvery` committed batches
    * [[refreshHybridIndex]] runs — the dense arm consumes the vector
    * delta under frozen centroids (O(delta)), the lexical arm appends
    * the docs delta's postings under the frozen idf/avgdl the save
    * pinned (O(delta); bounded drift — schedule
    * [[rebuildHybridPostings]] on a slow cadence and watch the
    * `stale_rows` observable in [[describeIndexes]]), and one atomic
    * hybrid-pointer commit re-pins both so lexical and dense arms
    * always serve the same generation. `docsTable` is read-only here:
    * feed it with its own exactly-once sink (or batch puts) at
    * whatever cadence the docs arrive; each refresh folds in whatever
    * that table holds. If the docs side's OWN retention reclaims the
    * consumed docs version this family pinned, the next refresh
    * self-heals with one exact rebuild instead of wedging — but keep
    * the docs vacuum keeping at least this family's consumed version
    * to stay O(delta).
    *
    * Bootstrap once before the first start: [[buildHybridIndex]] over
    * the initial snapshots and [[saveHybridIndex]] with the vectors
    * corpus version. Catch-up-at-start and refresh-aware retention are
    * the shared loop's (see [[sinkWithAnnRefresh]]): `vacuumKeep`
    * vacuums `vectorsTable` keeping the last K versions plus
    * everything at or after the DENSE arm's consumed corpus version —
    * the version the next refresh diffs from is structurally
    * un-vacuumable.
    */
  def sinkWithHybridRefresh(ds: DataFrame, storage: graft.sources.Storage,
      vectorsTable: String, checkpointDir: String, indexName: String,
      refreshEvery: Int, docsTable: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery: Int = 0, vacuumKeep: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkRefreshLoop(ds, storage, vectorsTable, checkpointDir, refreshEvery,
      trigger, compactEvery, vacuumKeep, Pointers.Hybrid, indexName, "corpus")(
      refreshHybridIndex(storage, indexName, docsTable, vectorsTable))

  /** [[sinkWithAnnRefresh]] for a persisted [[RankModel]] — the
    * TextRank family's continuous loop as one verb: the DOCS stream
    * lands in versioned table `docsTable` through the exactly-once
    * sink, and every `refreshEvery` committed batches
    * [[refreshRankModel]] folds the accumulated delta's pair counts
    * into the pinned rollup and re-runs the vocabulary-bounded
    * iterations — O(delta + vocab), bit-identical to a rebuild.
    *
    * Bootstrap once before the first start: [[buildRankModel]] over
    * the initial snapshot and [[saveRankModel]] with its docs corpus
    * version. Catch-up-at-start and refresh-aware retention are the
    * shared loop's (see [[sinkWithAnnRefresh]]): `vacuumKeep` keeps
    * the last K docs versions plus everything at or after the
    * pointer's consumed version, so the version the next fold diffs
    * from is structurally un-vacuumable.
    */
  def sinkWithRankRefresh(ds: DataFrame, storage: graft.sources.Storage,
      docsTable: String, checkpointDir: String, modelName: String,
      refreshEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery: Int = 0, vacuumKeep: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinkRefreshLoop(ds, storage, docsTable, checkpointDir, refreshEvery,
      trigger, compactEvery, vacuumKeep, Pointers.TextRank, modelName, "docs")(
      refreshRankModel(storage, modelName, docsTable))

  /** The ONE continuous-loop shape the index families share: a
    * synchronous catch-up refresh before the stream starts, the
    * exactly-once sink with the refresh chained on every
    * `refreshEvery`-th committed batch, and refresh-AWARE vacuum
    * ([[Pointers.retainConsumed]] at the version `layout` records as
    * consumed; see [[sinkWithAnnRefresh]]'s scaladoc for the contract).
    */
  private def sinkRefreshLoop(ds: DataFrame,
      storage: graft.sources.Storage, corpusTable: String,
      checkpointDir: String, refreshEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger,
      compactEvery: Int, vacuumKeep: Int, layout: PointerLayout,
      name: String, consumedRole: String)(refresh: => Long)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(refreshEvery > 0, s"refreshEvery must be > 0, got $refreshEvery")
    def refreshAndVacuum(): Unit = {
      refresh
      if (vacuumKeep > 0)
        Pointers.retainConsumed(storage, corpusTable, vacuumKeep,
          layout.consumed(storage, name, consumedRole), writer = checkpointDir)
    }
    // catch-up BEFORE starting: re-covers a crash-lost boundary and
    // the previous AvailableNow run's tail, with zero training
    refreshAndVacuum()
    graft.streaming.Sinks.sinkVersionedExactlyOnce(ds, storage,
      corpusTable, checkpointDir, trigger, compactEvery,
      vacuumKeep = 0, // vacuum runs refresh-aware in the hook instead
      onBatchCommitted = batchId =>
        if ((batchId + 1) % refreshEvery == 0) refreshAndVacuum())
  }

  /** Build an [[IvfPqIndex]] over a `(id, vec)` frame — the handle
    * form of the gated `sim_ivfpq` composition (coarse probe bounds
    * the candidates, ADC scans only their 4-byte codes, exact refine
    * on the shortlist): two training passes at build, zero per serve.
    */
  def buildIvfPqIndex(corpus: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): IvfPqIndex =
    Indexes.buildIvfPq(corpus, id, vec)

  /** Persist a built [[IvfPqIndex]] (see [[saveAnnIndex]] — the same
    * versioned-tables + atomic-pointer pattern): the coarse arm saves
    * as a nested ann family under `<name>__coarse` (its own pointer
    * deliberately records NO corpus version, so a direct
    * [[refreshAnnIndex]] on it refuses — refreshing the coarse lists
    * without re-encoding codes would silently drop the new vectors
    * from every ADC scan), codebooks and codes land as versioned
    * tables, and the one-row `<name>__ivfpq` pointer pins all three
    * plus the corpus version in one atomic commit.
    */
  def saveIvfPqIndex(index: IvfPqIndex, storage: graft.sources.Storage,
      name: String): Long = saveIvfPqIndex(index, storage, name, -1L)

  /** [[saveIvfPqIndex]] recording the corpus version the index was
    * built from — what [[refreshIvfPqIndex]] diffs against.
    */
  def saveIvfPqIndex(index: IvfPqIndex, storage: graft.sources.Storage,
      name: String, corpusVersion: Long): Long = {
    val Q = Pointers.IvfPq
    Q.commit(storage, name,
      "coarse_version" -> saveAnnIndex(index.ann, storage, Q.nested(name, "coarse")),
      "codebooks_version" -> Q.put(storage, name, "codebooks", index.codebooks),
      "codes_version" -> Q.put(storage, name, "codes", index.codes),
      "corpus_version" -> corpusVersion)
  }

  /** Rehydrate a persisted [[IvfPqIndex]] at `version` (default:
    * latest save) — zero training passes, every artifact at its
    * pinned version.
    */
  def loadIvfPqIndex(storage: graft.sources.Storage, name: String,
      version: Long = -1L): IvfPqIndex = {
    val Q = Pointers.IvfPq
    val ptr = Q.row(storage, name, version)
    IvfPqIndex(
      loadAnnIndex(storage, Q.nested(name, "coarse"), Q.pinned(ptr, "coarse")),
      Q.load(storage, name, ptr, "codebooks"), Q.load(storage, name, ptr, "codes"))
  }

  /** CDC-driven incremental maintenance of a persisted [[IvfPqIndex]]
    * — [[refreshAnnIndex]] with BOTH arms frozen: the corpus delta
    * (pinned window, see [[refreshAnnIndex]]) is assigned under the
    * frozen coarse centroids AND kernel-encoded under the frozen PQ
    * codebooks — two scan-bound O(delta) passes, zero training — then
    * both appends land base-pinned (crash/double-fire safe) and one
    * atomic pointer commit re-pins everything. What drifts under pure
    * upsert is training-set coverage of BOTH quantizers — the standing
    * cue for periodic full retrains. Returns the new pointer version;
    * maintenance-only corpus advances re-pin without committing junk.
    */
  def refreshIvfPqIndex(storage: graft.sources.Storage, name: String,
      corpusTable: String, id: String = "vec_id",
      vec: String = "embedding"): Long = {
    val Q = Pointers.IvfPq
    Q.refresh(storage, name, "corpus", corpusTable,
        _.select(col(id).as("vec_id"), col(vec).as("embedding"))) {
      (ptr, delta, n, head) =>
        // coarse arm: frozen-centroid assignment onto the pinned lists. The
        // nested coarse pointer mirrors the family's drift count — its
        // corpus checkpoint stays -1 (a direct refresh must refuse)
        val vc = annFold(storage, Q.nested(name, "coarse"),
          Q.nestedRow(storage, name, ptr, "coarse"), delta, n, -1L)
        // pq arm: frozen-codebook kernel encode onto the pinned codes
        val vk = Q.appendOnto(storage, name, ptr, "codes",
          graft.operators.Similarity.kernelEncodePq(delta,
            Q.read(storage, name, ptr, "codebooks")))
        Q.recommit(storage, name, ptr, "coarse_version" -> vc,
          "codes_version" -> vk, "corpus_version" -> head,
          "stale_rows" -> (Q.get(ptr, "stale_rows") + n))
    }
  }

  /** [[compactAnnIndex]] for a persisted IVF×PQ family: the coarse
    * lists and the codes table both accrete one delta directory per
    * refresh — re-snapshot both at their pinned versions (content-
    * equal, `#base=` recorded) and re-pin.
    */
  def compactIvfPqIndex(storage: graft.sources.Storage,
      name: String): Long = Pointers.IvfPq.compact(storage, name)

  /** [[vacuumAnnIndex]] for a persisted IVF×PQ family: retained ivfpq
    * pointers pin the codebooks/codes versions and the nested coarse
    * family's POINTER versions; each arm vacuums keeping exactly its
    * pinned set.
    */
  def vacuumIvfPqIndex(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.IvfPq.vacuum(storage, name, keepLastPointers)

  /** Build the persisted base of an incremental pair-mining pipeline
    * over a `(doc_id, text)` docs frame and id-linked `(vec_id,
    * embedding)` vectors: QA the corpus (quality floor + prefix-
    * fingerprint dedup, the [[minedPairs]] pass), train the IVF index
    * on the KEPT vectors, and materialize the survivor fingerprints.
    * These three artifacts are what the nightly batch run reads.
    */
  def buildPairMiningBase(docs: DataFrame, vectors: DataFrame): PairMiningBase = {
    val P = graft.operators.Pipeline
    val kept = P.qualityFp(docs)
      .groupBy(col("fp"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("vec_id"))
      .localCheckpoint()
    val keptVecs = vectors.join(kept.select(col("vec_id")), "vec_id")
    PairMiningBase(buildAnnIndex(keptVecs), kept)
  }

  /** Mine contrastive positives for a NEW document batch against a
    * prebuilt [[PairMiningBase]] (the gated `pipe_pairs_upsert` pass
    * over YOUR frames): the batch passes the same QA as the base plus
    * an anti-join against the base fingerprints, upserts the index by
    * assignment (no retrain — `CorpusSpec` asserts zero training
    * passes), and mines each surviving batch doc's top-`k` neighbors
    * from base ∪ batch. Per-call cost is O(batch) given the base.
    */
  def minePairsIncremental(batchDocs: DataFrame, batchVectors: DataFrame,
      base: PairMiningBase,
      k: Int = graft.operators.Pipeline.PairsK): DataFrame =
    graft.operators.Pipeline.minedPairsUpsert(batchDocs, batchVectors,
      base.index.centroids, base.index.lists, base.fingerprints, k)

  /** Persist a built [[PairMiningBase]] — the last session-scoped
    * artifact family to get the versioned-tables + atomic-pointer
    * treatment: the IVF index saves through [[saveAnnIndex]] under
    * `<name>__index` (its corpus is the DERIVED kept-vectors relation,
    * so its own pointer records no corpus version — refresh goes
    * through [[refreshPairMiningBase]], which knows the derivation, and
    * a direct [[refreshAnnIndex]] on it refuses rather than indexing
    * unfiltered rows), the survivor fingerprints land as
    * `<name>__fps`, and the one-row `<name>__pmb` pointer pins
    * (fps version, index pointer version, docs corpus version, vectors
    * corpus version) in one atomic commit. Pass the corpus versions of
    * the versioned `docs`/`vectors` tables the base was built from to
    * enable incremental refresh; -1 disables it. Returns the saved
    * pointer version.
    */
  def savePairMiningBase(base: PairMiningBase,
      storage: graft.sources.Storage, name: String,
      docsVersion: Long = -1L, vectorsVersion: Long = -1L): Long = {
    val P = Pointers.PairMining
    val vi = saveAnnIndex(base.index, storage, P.nested(name, "index"))
    P.commit(storage, name,
      "fps_version" -> P.put(storage, name, "fps", base.fingerprints),
      "index_version" -> vi, "docs_version" -> docsVersion,
      "vectors_version" -> vectorsVersion)
  }

  /** Rehydrate a persisted [[PairMiningBase]] at `version` (default:
    * latest save): the nightly [[minePairsIncremental]] run then needs
    * zero rebuilding — the cross-session completion of the
    * `pipe_pairs_upsert` posture.
    */
  def loadPairMiningBase(storage: graft.sources.Storage, name: String,
      version: Long = -1L): PairMiningBase = {
    val P = Pointers.PairMining
    val ptr = P.row(storage, name, version)
    PairMiningBase(
      loadAnnIndex(storage, P.nested(name, "index"), P.pinned(ptr, "index")),
      P.load(storage, name, ptr, "fps"))
  }

  /** CDC-driven incremental maintenance of a persisted
    * [[PairMiningBase]] — [[refreshAnnIndex]]'s sibling for the
    * pair-mining family, turning "mine today's batch" and "fold
    * today's batch into the base" into one nightly verb. Consumes the
    * docs and vectors appended since the versions the pointer pinned
    * (delta directories only, zero base scans), applies the SAME QA
    * the base build applies (quality floor + fingerprint dedup,
    * batch-local min then FIRST-ARRIVAL anti-join against the pinned
    * base fingerprints — a later duplicate never displaces the base's
    * survivor, the `dd_incremental` contract), appends the new
    * survivors' fingerprints and their vectors' frozen-centroid list
    * assignments base-pinned (see
    * [[graft.sources.Storage.appendVersionedOnto]] — crashed or
    * double-fired refreshes can never double-index), and re-pins
    * everything in one atomic pointer commit. Zero training passes
    * (spec-pinned). Returns the new pointer version; a no-op (neither
    * table advanced) returns the current one.
    *
    * Contract: a new doc's vector arrives in the vectors table's SAME
    * refresh window (the aligned-append ingest shape — both tables fed
    * by the same pipeline); a kept doc whose vector is missing from
    * the delta is simply not indexed this pass and a later refresh
    * that delivers the vector will not re-add the doc's fingerprint
    * (it was consumed), so keep the two appends paired.
    */
  def refreshPairMiningBase(storage: graft.sources.Storage, name: String,
      docsTable: String, vectorsTable: String): Long = {
    val P = Pointers.PairMining
    val ptr = P.row(storage, name)
    val (dv, vv) = (P.pinned(ptr, "docs"), P.pinned(ptr, "vectors"))
    require(dv >= 0L && vv >= 0L,
      s"base '$name' was saved without corpus versions; re-save with " +
        "savePairMiningBase(base, storage, name, docsVersion, " +
        "vectorsVersion) to enable incremental refresh")
    // the consume step of PointerLayout.refresh over TWO windows, each
    // pinned to the head the pointer will record as consumed; the
    // emptiness that matters is the QA survivors', not either window's
    val dCur = storage.versions(docsTable).last
    val vCur = storage.versions(vectorsTable).last
    if (dCur == dv && vCur == vv) return P.latest(storage, name)
    val deltaKept = graft.operators.Pipeline
      .qualityFp(storage.readVersionedSince(docsTable, dv,
        toVersion = dCur))
      .groupBy(col("fp"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("vec_id"))
      .join(P.read(storage, name, ptr, "fps").select(col("fp")), Seq("fp"),
        "left_anti")
      .localCheckpoint()
    try {
      if (deltaKept.isEmpty)
        // maintenance-only advance or a delta with no new QA survivors:
        // re-pin the consumed versions only
        return P.recommit(storage, name, ptr,
          "docs_version" -> dCur, "vectors_version" -> vCur)
      val vfNew = P.appendOnto(storage, name, ptr, "fps", deltaKept)
      // checkpointed ONCE: the drift count below and the assignment
      // kernel would otherwise each re-run the since-read + join
      val newVecs = storage.readVersionedSince(vectorsTable, vv,
          toVersion = vCur)
        .select(col("vec_id"), col("embedding"))
        .join(deltaKept.select(col("vec_id")), "vec_id")
        .localCheckpoint()
      try {
        // the index arm: the ann pointer pinned by the pmb pointer names
        // the centroids/lists pair the delta assigns under; its corpus
        // stays -1 (a direct refresh must refuse), stale_rows mirrors
        // the vectors assigned under the frozen base centroids
        val viNew = annFold(storage, P.nested(name, "index"),
          P.nestedRow(storage, name, ptr, "index"),
          newVecs, newVecs.count(), -1L)
        P.commit(storage, name, "fps_version" -> vfNew,
          "index_version" -> viNew, "docs_version" -> dCur,
          "vectors_version" -> vCur)
      } finally graft.operators.Artifacts.freeLocalCheckpoint(newVecs)
    } finally graft.operators.Artifacts.freeLocalCheckpoint(deltaKept)
  }

  /** [[vacuumAnnIndex]] for a persisted pair-mining family (see
    * [[savePairMiningBase]]): retain the last `keepLastPointers` pmb
    * pointers, vacuum the fingerprints table and the nested
    * `<name>__index` ann family keeping exactly the pinned versions.
    */
  def vacuumPairMiningBase(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.PairMining.vacuum(storage, name, keepLastPointers)

  /** [[sinkWithAnnRefresh]] for a persisted [[PairMiningBase]] — the
    * contrastive-pair pipeline's continuous loop as one verb, with the
    * ALIGNED-APPEND ingest shape [[refreshPairMiningBase]]'s contract
    * demands built in: the stream carries `(doc_id, text, …, embedding)`
    * rows and each micro-batch lands in BOTH versioned tables —
    * `docsTable` gets every column but the embedding (with `id`
    * normalized to the canonical `doc_id` the refresh consumes),
    * `vectorsTable` gets `(vec_id = id, embedding)` — under the SAME
    * batch id, so a kept doc's vector is always in the same refresh
    * window.
    *
    * Exactly-once is PER TABLE: each append is idempotent against its
    * own table's high-water batch id, so a crash between the two
    * appends (docs committed, vectors not) replays into skip-then-
    * commit — never a duplicate, never a lost vector. Both tables are
    * writer-fenced to this stream's checkpoint, and the refresh runs
    * ONLY when the two tables' batch horizons agree
    * ([[graft.sources.Storage.batchHorizon]]) — a half-committed batch
    * is re-paired by the replay before anything consumes it, so the
    * missing-vector caveat in [[refreshPairMiningBase]]'s contract can
    * never fire through this verb. Every `refreshEvery`
    * committed batches [[refreshPairMiningBase]] folds the accumulated
    * doc/vector deltas into the base (same QA as the build,
    * first-arrival dedup, frozen centroids, zero training), with the
    * shared loop's catch-up-at-start and refresh-aware retention:
    * `vacuumKeep` vacuums each table keeping the last K versions plus
    * everything at or after ITS consumed version from the pmb pointer.
    *
    * Bootstrap once before the first start: land initial snapshots,
    * [[buildPairMiningBase]], and [[savePairMiningBase]] with both
    * corpus versions.
    */
  def sinkWithPairMiningRefresh(ds: DataFrame,
      storage: graft.sources.Storage, docsTable: String,
      vectorsTable: String, checkpointDir: String, baseName: String,
      refreshEvery: Int,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      vacuumKeep: Int = 0, id: String = "doc_id",
      vec: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(refreshEvery > 0, s"refreshEvery must be > 0, got $refreshEvery")
    def refreshAndVacuum(): Unit = {
      // refresh ONLY on an ALIGNED snapshot: this verb lands each batch
      // id in both tables, so unequal horizons mean a crash fell
      // between the paired appends — refreshing now would consume the
      // unpaired doc delta and (per refreshPairMiningBase's contract)
      // those docs' late vectors would never be indexed. Skipping is
      // lossless: the replay re-pairs the tables at the next start, and
      // every refresh consumes since the pointer, so the next aligned
      // boundary covers this one's delta too.
      if (storage.batchHorizon(docsTable) !=
          storage.batchHorizon(vectorsTable)) return
      refreshPairMiningBase(storage, baseName, docsTable, vectorsTable)
      if (vacuumKeep > 0) {
        val P = Pointers.PairMining
        val ptr = P.row(storage, baseName)
        Seq(docsTable -> "docs", vectorsTable -> "vectors").foreach {
          case (t, role) => Pointers.retainConsumed(storage, t, vacuumKeep,
            P.pinned(ptr, role), writer = checkpointDir)
        }
      }
    }
    // catch-up BEFORE starting: re-covers a crash-lost boundary and the
    // previous AvailableNow run's tail (see sinkWithAnnRefresh)
    refreshAndVacuum()
    ds.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist: up to two appends and the drain below re-read this
        // frame; without the cache each action re-executes the batch plan
        batch.persist()
        try {
          // BOTH tables land under the canonical column names the
          // refresh consumes (doc_id/vec_id) — a custom `id` must not
          // leak into the docs table, where refreshPairMiningBase's QA
          // pass would fail to resolve it at every boundary forever
          val cd = storage.appendBatchIdempotent(docsTable,
            batch.drop(vec).withColumnRenamed(id, "doc_id"), batchId,
            writer = checkpointDir)
          val cv = storage.appendBatchIdempotent(vectorsTable,
            batch.select(col(id).as("vec_id"), col(vec).as("embedding")),
            batchId, writer = checkpointDir)
          if (cd.isEmpty && cv.isEmpty)
            // full replay: nothing executed the frame — drain every
            // partition so stateful operators upstream still commit
            // their state stores (see Sinks.sinkVersionedExactlyOnce)
            batch.foreachPartition(
              (it: Iterator[org.apache.spark.sql.Row]) => it.foreach(_ => ()))
          if ((cd.nonEmpty || cv.nonEmpty) &&
              (batchId + 1) % refreshEvery == 0)
            refreshAndVacuum()
        } finally batch.unpersist()
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** The operator-facing staleness observable over EVERY persisted
    * index family in a warehouse — the one frame that answers "is my
    * nightly loop keeping up, and when do I compact?". Scans
    * [[graft.sources.Storage.lsVersioned]] for the pointer suffix of
    * every layout in [[Pointers]] (`__ann`, `__hybrid`, `__ivfpq`,
    * `__pmb`, `__tok`, `__tr`, `__gl` — nested arms like
    * `<x>__dense__ann` report under their parent, not as their own
    * family) and emits one row per (family, component), in the order
    * the layout declares its pins:
    *
    *  - ARM rows (`role` = centroids/lists/postings/codes/…): the arm
    *    table, the version the LATEST pointer pins, the arm table's
    *    head version, `lag` = versions past the pinned one (>0 means
    *    stranded orphans from crashed refreshes — vacuum fodder), and
    *    `dir_count` = directories composing the pinned version (the
    *    compaction-cadence observable: each refresh adds one).
    *    The `stale_rows` column carries each family's FROZEN-ARTIFACT
    *    drift — the "when do I retrain/recalc" dial next to lag's
    *    "is the loop keeping up": on an ann/hybrid-dense `lists` row,
    *    vectors assigned under the frozen centroids since the last
    *    train; on an ivfpq `codes` row, vectors encoded under the
    *    frozen codebooks; on a hybrid `lexstats` row, docs appended
    *    under the frozen idf/avgdl since the last
    *    [[rebuildHybridPostings]]. Null elsewhere, and null on
    *    pointers saved before the column existed (never a false
    *    "fresh" zero).
    *  - CORPUS rows (`role` = corpus/docs/vectors): the consumed
    *    corpus version the pointer checkpointed, and — when
    *    `corpusTables` names the corpus table (key = index name; a pmb
    *    family uses `<name>/docs` and `<name>/vectors`) — the corpus
    *    head, `lag` = versions committed past the consumed one (0 =
    *    the loop is caught up; grows with un-refreshed appends), and
    *    the corpus's own dir count at head.
    *
    * Metadata-only: manifest listings, plus one small Spark job per
    * pointer read (the collect of its one-row table; the manifest's
    * `#schema=` spares the schema-inference job), and no scan of any
    * artifact or corpus data — safe to poll from a dashboard at any
    * cadence. That
    * contract extends to BROKEN families: a torn or malformed pointer
    * table (wrong row count, missing columns — e.g. a half-migrated
    * save or a foreign table that happens to share the suffix) emits
    * one degraded `role = "malformed"` row with null metadata instead
    * of crashing the whole frame — the dashboard shows the damage, the
    * healthy families still report.
    */
  def describeIndexes(storage: graft.sources.Storage,
      corpusTables: Map[String, String] = Map.empty): DataFrame = {
    val names = storage.lsVersioned().toSet
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String,
      Long, String, Option[String], Option[Long], Option[Long],
      Option[Long], Option[Long], Option[Long])]
    // a pointer table some parent family pins (`<x>__dense__ann` under
    // `<x>__hybrid`) reports under that parent only
    def nested(p: String): Boolean = Pointers.All.exists(parent =>
      parent.arms.exists(a => a.nested.exists { n =>
        p.endsWith(a.suffix + n.pointer) &&
          names.contains(p.stripSuffix(a.suffix + n.pointer) + parent.pointer)
      }))
    for (p <- names.toSeq.sorted;
        l <- Pointers.All.find(l => p.endsWith(l.pointer)) if !nested(p)) {
      val idx = p.stripSuffix(l.pointer)
      // one family's torn/malformed pointer must not take down the whole
      // poll: roll back its partial arm rows and emit ONE degraded row
      try {
        val pv = storage.versions(p).last
        def arm(role: String, table: String, pinned: Long,
            stale: Option[Long]): Unit = {
          val vs = storage.versions(table)
          rows += ((idx, l.family, pv, role, Some(table), Some(pinned),
            vs.lastOption, Some(vs.count(_ > pinned).toLong),
            Some(storage.versionDirCount(table, pinned).toLong), stale))
        }
        def corpus(role: String, consumed: Long, key: String): Unit = {
          val tbl = corpusTables.get(key)
          val vs = tbl.map(storage.versions(_)).getOrElse(Seq.empty)
          val c = Some(consumed).filter(_ >= 0L)
          // a mapped corpus table that does not (yet/anymore) exist
          // degrades to nulls — the dashboard poll must never crash on a
          // typo or a pending bootstrap
          rows += ((idx, l.family, pv, role, tbl, c, vs.lastOption,
            c.filter(_ => vs.nonEmpty).map(cv => vs.count(_ > cv).toLong),
            tbl.filter(_ => vs.nonEmpty)
              .map(t => storage.versionDirCount(t).toLong), None))
        }
        // the layout's pins in order; a nested family's arms follow its
        // arm row under a `<role>.` prefix, its consumed corpus is not
        // reported
        def pins(l: PointerLayout, base: String, r: org.apache.spark.sql.Row,
            prefix: String): Unit = {
          val nestedRows = scala.collection.mutable.Map.empty[String,
            org.apache.spark.sql.Row]
          l.pins.foreach {
            case a: Arm =>
              val pinned = l.get(r, a.column)
              if (!a.optional || pinned >= 0L) {
                // legacy pointers predate the drift column — report
                // null, not a false "fresh" zero
                arm(prefix + a.role, a.table(base), pinned,
                  a.drift.filter(r.schema.fieldNames.contains)
                    .map(c => r.getAs[Long](c)))
                a.nested.foreach { n =>
                  val nr = pointerRow(storage, a.table(base), pinned)
                  nestedRows(a.role) = nr
                  pins(n, base + a.suffix, nr, s"$prefix${a.role}.")
                }
              }
            case c: Consumed if prefix.isEmpty =>
              val v = c.via.fold(l.get(r, c.column))(
                a => nestedRows(a).getAs[Long](c.column))
              if (!c.optional || v >= 0L) corpus(c.role, v, idx + c.key)
            case _: Consumed =>
          }
        }
        // pinned: never torn vs pv
        pins(l, idx, pointerRow(storage, p, pv), "")
      } catch {
        case scala.util.control.NonFatal(_) =>
          rows.filterInPlace(r => r._1 != idx || r._2 != l.family)
          rows += ((idx, l.family, storage.versions(p).lastOption.getOrElse(-1L),
            "malformed", Some(p), None, None, None, None, None))
      }
    }
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    rows.toSeq.toDF("index_name", "family", "pointer_version", "role",
      "ref_table", "pinned_version", "head_version", "lag", "dir_count",
      "stale_rows")
  }

  /** Retire a corpus directory's session-cached index artifacts: every
    * operator family's internal build-once relation (shingles,
    * signatures, IVF centroids/lists, PQ codebooks, BM25 postings,
    * BPE vocabulary, …) built for `(session, dir)` is evicted and its
    * checkpoint blocks freed. Returns the number of artifacts freed.
    * The complement of the handles' `close()`: handles free what YOU
    * built; this frees what the gated operators built behind the
    * scenes. Growth is also bounded automatically: one LRU holds at
    * most `graft.operators.Artifacts.MaxEntriesPerSession` (64)
    * artifacts per session, counted across every family and corpus
    * dir, and its automatic eviction only drops the reference — this
    * is the eager form for pipelines that know a corpus is done.
    */
  def evictCaches(session: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    graft.operators.Artifacts.evictCorpus(session, dir)

  /** Hybrid more-like-this over YOUR frames (the gated `sim_hybrid`
    * fusion, SERVE POSTURE on both arms): for each doc id in
    * `queryIds`, retrieve related docs through a BM25 lexical arm
    * (query terms joined against the index's postings) and a dense arm
    * probing the index's IVF inverted lists at arm depth (self
    * excluded — queries come from the corpus), fused by Reciprocal
    * Rank Fusion. `docs` is `(doc_id, text)`-shaped, `vectors`
    * `(vec_id, embedding)`-shaped, sharing the id space. Output
    * `(query_id, rank, doc_id, lex_rank, dense_rank, rrf_score)`.
    *
    * Pass `index` (from [[buildHybridIndex]]) to serve many query
    * batches from ONE build — the gates' session-cache posture as an
    * explicit handle; without it, each CALL (not each action) builds
    * and MATERIALIZES both index halves — counting, training, and
    * checkpointing run eagerly at construction, unlike a plain lazy
    * plan-builder, so construct-several-execute-one callers should
    * build the index once themselves. `CorpusSpec` pins path equality,
    * equality with the gated `sim_hybrid` on the gate's query set, and
    * that the served call re-runs no training.
    */
  def hybridTopK(docs: DataFrame, vectors: DataFrame,
      queryIds: Seq[Long],
      armK: Int = graft.operators.Similarity.HybridArmK,
      topK: Int = graft.operators.Similarity.HybridTopK,
      index: Option[HybridIndex] = None): DataFrame = {
    val S = graft.operators.Similarity
    val idx = index.getOrElse(buildHybridIndex(docs, vectors))
    val qset = queryIds.toSet
    val isQuery = col("doc_id").isInCollection(qset)
    val qterms = docs.filter(isQuery)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(graft.functions.tokens(col("text"))))
          .as("term"))
    val dense = idx.ann.topK(
        vectors.filter(col("vec_id").isInCollection(qset)), armK,
        excludeSelf = true)
      .select(col("q_id").as("query_id"), col("c_id").as("doc_id"),
        col("rank").cast("long").as("dense_rank"))
    S.hybridFuse(qterms, idx.postings, dense, armK, topK)
  }

  /** Fluent syntax: `docs.chunked().qualityScored()` etc. */
  object implicits {
    implicit class CorpusOps(private val df: DataFrame) {
      def normalized(): DataFrame = Corpus.normalized(df)
      def qualityScored(): DataFrame = Corpus.qualityScored(df)
      def fingerprinted(): DataFrame = Corpus.fingerprinted(df)
      def exactDeduped(): DataFrame = Corpus.exactDeduped(df)
      def chunked(): DataFrame = Corpus.chunked(df)
      def minhashSigned(): DataFrame = Corpus.minhashSigned(df)
      def nearDupPairs(minJaccard: Double = 0.3): DataFrame =
        Corpus.nearDupPairs(df, minJaccard = minJaccard)
      def duplicatedSpans(): DataFrame = Corpus.duplicatedSpans(df)
      def spansRemoved(): DataFrame = Corpus.spansRemoved(df)
      def bpeMerges(n: Int = TextAnalysis.BpeTrainMerges): DataFrame =
        Corpus.bpeMerges(df, n)
      def dupClusters(): DataFrame = Corpus.dupClusters(df)
      def tfidfTopTerms(topK: Int = 5): DataFrame =
        Corpus.tfidfTopTerms(df, topK = topK)
      def piiScrubbed(): DataFrame = Corpus.piiScrubbed(df)
      def heavyHitters(k: Int = graft.operators.HeavyHitters.Capacity)
          : DataFrame = Corpus.heavyHitters(df, k = k)
      def unigramScored(): DataFrame = Corpus.unigramScored(df)
      def hashSplit(): DataFrame = Corpus.hashSplit(df)
      def stratifiedSampled(): DataFrame = Corpus.stratifiedSampled(df)
      def shuffled(): DataFrame = Corpus.shuffled(df)
      def mixtureSampled(rates: Map[String, Double]): DataFrame =
        Corpus.mixtureSampled(df, rates)
      def repetitionScored(): DataFrame = Corpus.repetitionScored(df)
      def bigramScored(): DataFrame = Corpus.bigramScored(df)
      def domainCapped(cap: Int = graft.operators.CorpusOps.DomainCap)
          : DataFrame = Corpus.domainCapped(df, cap)
      def dupSampled(): DataFrame = Corpus.dupSampled(df)
      def quantizedI8(): DataFrame = Corpus.quantizedI8(df)
      def semanticDupClusters(): DataFrame = Corpus.semanticDupClusters(df)
      def knnJoin(k: Int = graft.operators.Similarity.KnnK): DataFrame =
        Corpus.knnJoin(df, k = k)
      def importanceScored(isTarget: Column): DataFrame =
        Corpus.importanceScored(df, isTarget)
      def dedupAgainst(seen: DataFrame): DataFrame =
        Corpus.dedupAgainst(df, seen)
      def lengthTails(): DataFrame = Corpus.lengthTails(df)
      def boilerplateScored(): DataFrame = Corpus.boilerplateScored(df)
      def containmentPairs(): DataFrame = Corpus.containmentPairs(df)
      def temperatureSampled(domain: String = "lang"): DataFrame =
        Corpus.temperatureSampled(df, domain)
      def bpeApplied(merges: Seq[(String, String)] = Nil): DataFrame =
        Corpus.bpeApplied(df, merges)
      def tokenizePacked(merges: Seq[(String, String)]): DataFrame =
        Corpus.tokenizePacked(df, merges)
      def curriculumOrdered(): DataFrame = Corpus.curriculumOrdered(df)
    }
  }
}
