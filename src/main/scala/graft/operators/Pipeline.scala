package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Training-data assembly operators over `documents`: fixed-window
  * chunking (context-window pieces), deterministic sequence packing
  * (concat-then-split token offsets), and the composed end-to-end
  * corpus pipeline (quality filter → exact dedup → chunk → per-language
  * stats).
  *
  * Scale posture: chunking is pure per-row generation (explode of an
  * integer range — no shuffle at all); packing is windowed WITHIN
  * doc-id shards, so the cumulative sums parallelize per shard instead
  * of the single-task global-window trap; the pipeline composes
  * map-side stages plus one fingerprint shuffle and one final tiny
  * aggregation.
  */
object Pipeline {

  val ChunkTokens = 128 // context-window size, in whitespace tokens
  val ChunkStride = 96  // stride between window starts (32-token overlap)
  val PackBudget = 256  // tokens per packed training sequence
  val ShardDocs = 100L  // docs per packing shard
  // quality cut for the e2e pipeline: the corpus is short synthetic docs
  // (10-99 tokens, quality scores 0.02-0.30 with mean ~0.17), so 0.15
  // keeps roughly the better half — a real filter, not a no-op
  val QualityMin = 0.15

  private def toks = tokens(col("text"))

  // -- shared chunk-window pieces (the ONE definition of the geometry,
  //    used by taChunk, pipeE2e AND graft.api.Corpus.chunked on both
  //    engine sides) --------------------------------------------------
  /** Chunk indices 0..ceil(n/stride)-1 over a token-array column named
    * `t` (requires `size(t) > 0` upstream).
    */
  def chunkIdxCol(t: String, stride: Int = ChunkStride): org.apache.spark.sql.Column =
    explode(sequence(lit(0L),
      expr(s"(size($t) + ${stride - 1}) DIV $stride") - 1L))
  /** The tokens of chunk `start` of token-array column `t`. */
  def chunkSliceCol(t: String, start: org.apache.spark.sql.Column,
      chunkTokens: Int = ChunkTokens,
      stride: Int = ChunkStride): org.apache.spark.sql.Column =
    slice(col(t), start * stride + 1, lit(chunkTokens))
  private def chunkIdx = chunkIdxCol("t")
  private def chunkSlice(start: org.apache.spark.sql.Column) =
    chunkSliceCol("t", start)
  private val chunkIdxSql =
    s"unnest(range((len(t) + ${ChunkStride - 1}) // $ChunkStride))"
  private def chunkSliceSql(idx: String) =
    s"t[$idx * $ChunkStride + 1 : $idx * $ChunkStride + $ChunkTokens]"

  /** Fixed-size overlapping token windows per document: chunk `i`
    * covers tokens `[i*stride, i*stride + ChunkTokens)`; starts are
    * every `ChunkStride` tokens while inside the document. Pure
    * map-side generation — the 100 TB plan is scan → explode, no
    * exchange before the presentation sort.
    */
  def taChunk(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("chunk_idx", chunkIdx)
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", chunkSlice(col("chunk_idx"))).as("chunk_text"),
        size(chunkSlice(col("chunk_idx"))).as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val taChunkSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, t, $chunkIdxSql AS chunk_idx
       |  FROM toks WHERE len(t) > 0)
       |SELECT doc_id, chunk_idx,
       |  array_to_string(${chunkSliceSql("chunk_idx")}, ' ') AS chunk_text,
       |  CAST(len(${chunkSliceSql("chunk_idx")}) AS INTEGER) AS chunk_tokens
       |FROM c
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Deterministic sequence packing, concat-then-split form: within
    * each doc-id shard, documents concatenate in id order and the token
    * stream is cut every `PackBudget` tokens; a document's pack is the
    * budget-quotient of its start offset. Per-shard windows keep the
    * cumulative sum parallel (a GLOBAL order-by window would funnel the
    * whole corpus through one task); shards are the natural unit
    * training shards already impose.
    */
  def taPack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        expr(s"doc_id DIV $ShardDocs").as("shard"))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_off"),
        expr(s"start_off DIV $PackBudget").as("pack_id"),
        (col("n_tokens") > 0 &&
          expr(s"(start_off + n_tokens - 1) DIV $PackBudget") =!=
            expr(s"start_off DIV $PackBudget")).as("crosses_boundary"))
      .orderBy(col("doc_id"))
  }

  val taPackSql: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    doc_id // $ShardDocs AS shard
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |  FROM n)
       |SELECT doc_id, shard, n_tokens, start_off,
       |  start_off // $PackBudget AS pack_id,
       |  n_tokens > 0 AND
       |    (start_off + n_tokens - 1) // $PackBudget <> start_off // $PackBudget
       |    AS crosses_boundary
       |FROM o
       |ORDER BY doc_id""".stripMargin

  /** End-to-end corpus assembly: heuristic quality filter (the
    * [[TextAnalysis.taQuality]] score), exact prefix-fingerprint dedup
    * (keep the lowest doc_id per 10-token-prefix md5), fixed-window
    * chunking, then per-language corpus stats. One composed plan:
    * map-side filters and generation, one shuffle on the fingerprint,
    * one tiny final aggregate.
    */
  def pipeE2e(s: SparkSession, d: String): DataFrame = {
    // the survivor selection (partial-aggregated struct-min on the
    // fingerprint — the skew-safe form) now serves from the shared
    // session-cached QA-survivor relation
    val kept = cachedQaKept(s, d)
    kept
      .withColumn("chunk_idx", chunkIdx)
      .select(col("doc_id"), col("lang"),
        size(chunkSlice(col("chunk_idx"))).as("chunk_tokens"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("sum_chunk_tokens"))
      .orderBy(col("lang"))
  }

  val pipeE2eSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $toksSql AS t FROM documents),
       |q AS (
       |  SELECT doc_id, lang, t,
       |    md5(array_to_string(t[1:10], ' ')) AS fp
       |  FROM toks
       |  WHERE len(t) > 0 AND
       |    ${TextAnalysis.qualityScoreSql("t")} >= $QualityMin),
       |kept AS (
       |  SELECT doc_id, lang, t
       |  FROM (SELECT doc_id, lang, t,
       |          doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
       |        FROM q) k
       |  WHERE keep),
       |chunks AS (
       |  SELECT doc_id, lang,
       |    len(${chunkSliceSql("ci")}) AS chunk_tokens
       |  FROM (SELECT doc_id, lang, t, $chunkIdxSql AS ci
       |        FROM kept) g)
       |SELECT lang,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(chunk_tokens) AS BIGINT) AS sum_chunk_tokens
       |FROM chunks
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** The production pre-training CLEANING pipeline as one composed
    * plan — the scrub-order counterpart of [[pipeE2e]]'s assembly
    * order, threading the round-9 span transform through a pipeline:
    *
    *  1. PII scrub FIRST (redaction is per-doc and must precede any
    *     stage that could replicate text into derived artifacts) —
    *     [[Pii.piiScrubbed]] over the same deterministic injection the
    *     `ta_pii` gate certifies, so the stage provably redacts;
    *  2. duplicated-span removal over the scrubbed corpus
    *     ([[Dedup2.spansRemoved]] — the Lee-et-al ExactSubstr order:
    *     substring dedup runs BEFORE document fingerprints are
    *     computed, so shared boilerplate can neither mask a re-crawl's
    *     fingerprint nor split a fingerprint group); docs emptied by
    *     the cleaning are dropped;
    *  3. exact prefix-fingerprint dedup on the CLEANED text (the
    *     [[pipeE2e]] struct-min survivor);
    *  4. per-language summary: docs in/kept, PII entities redacted,
    *     span tokens removed, and the corpus's final token count.
    *
    * Shape: stages 1 and 4 are map-side; stage 2 is the spans
    * transform's linear window-hash pass; stage 3 is one fingerprint
    * shuffle. Nothing quadratic, nothing corpus-wide beyond the keyed
    * shuffles the semantics require.
    */
  /** Session-cached CLEANED-corpus relation per (session, dir):
    * `(doc_id, lang, n_pii, nr, tt)` — every document (pre any
    * emptiness filter) with its PII-redaction count, span-removal
    * count, and cleaned token array. This IS the artifact a release
    * materializes once (the scrubbed corpus every downstream job
    * reads); within a suite run the memo is that materialization,
    * shared by [[pipeScrub]] and [[pipeTokenize]] — the scrub regexes
    * and the span chain run once, not once per consumer.
    */
  private[operators] val cachedCleanedRel =
    Artifacts.declare("cleaned") { (s, d) =>
      def jtoks(c: org.apache.spark.sql.Column) =
        filter(split(c, "\\p{javaWhitespace}+"), t => length(t) > 0)
      val scr = Pii.piiScrubbed(
        documents(s, d).select(col("doc_id"), col("lang"),
          Pii.injectedText.as("text")))
        .select(col("doc_id"), col("lang"),
          (col("n_urls") + col("n_emails") + col("n_ips") + col("n_phones"))
            .as("n_pii"),
          col("redacted"))
      val sp = Dedup2.spansRemoved(
        scr.select(col("doc_id"), col("redacted").as("text")))
        .select(col("doc_id"), col("cleaned_text"), col("n_removed"))
      scr.join(sp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_pii"),
          coalesce(col("n_removed"), lit(0L)).as("nr"),
          jtoks(coalesce(col("cleaned_text"), col("redacted"))).as("tt"))
    }

  def pipeScrub(s: SparkSession, d: String): DataFrame = {
    val rel = cachedCleanedRel(s, d)
    val cleaned = rel.filter(size(col("tt")) > 0)
    val kept = cleaned
      .withColumn("fp", md5(concat_ws(" ", slice(col("tt"), 1, 10))))
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_pii"),
        col("nr"), size(col("tt")).cast("long").as("toks_out"))).as("k"))
      .select(col("k.lang").as("lang"), col("k.n_pii").as("n_pii"),
        col("k.nr").as("nr"), col("k.toks_out").as("toks_out"))
    // input counts are PRE-filter: the cache carries every document
    val inCnt = rel.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_in"))
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_pii")).as("n_pii_redacted"),
        sum(col("nr")).as("span_tokens_removed"),
        sum(col("toks_out")).as("total_tokens_out"))
      .join(broadcast(inCnt), "lang")
      .select(col("lang"), col("n_docs_in"), col("n_docs_kept"),
        col("n_pii_redacted"), col("span_tokens_removed"),
        col("total_tokens_out"))
      .orderBy(col("lang"))
  }

  /** DuckDB mirror of [[pipeScrub]]: the shared injection fragment,
    * the four scrub stages generated from [[Pii.Passes]], the
    * window-min survivor, and the shared spans-apply chain
    * re-rooted at the deduped relation.
    */
  val pipeScrubSql: String = {
    val scrubStages = Pii.Passes.zipWithIndex.map {
      case ((re, tok, cname), i) =>
        val prev = if (i == 0) "inj" else s"s$i"
        val carried = ("lang" +: Pii.Passes.take(i).map(_._3))
          .mkString(", ")
        s"""s${i + 1} AS (
           |  SELECT doc_id, $carried,
           |    CAST(len(regexp_extract_all(t, '$re')) AS BIGINT) AS $cname,
           |    regexp_replace(t, '$re', '$tok', 'g') AS t
           |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH inj AS (
       |  SELECT doc_id, lang, ${Pii.injectedTextSql} AS t
       |  FROM documents),
       |$scrubStages,
       |scr AS (
       |  SELECT doc_id, lang,
       |    n_urls + n_emails + n_ips + n_phones AS n_pii,
       |    t AS rtext
       |  FROM s4),
       |scrdocs AS (SELECT doc_id, rtext AS text FROM scr),
       |${Dedup2.spansApplyCtesSqlFrom(Dedup2.SpanWindow, "scrdocs")},
       |cl AS (
       |  SELECT s.doc_id, s.lang, s.n_pii,
       |    COALESCE(CAST(len(c.t) - len(c.kept) AS BIGINT), 0) AS nr,
       |    COALESCE(c.kept, tk.t) AS tt
       |  FROM scr s
       |  JOIN toks tk USING (doc_id)
       |  LEFT JOIN cleaned c USING (doc_id)
       |  WHERE len(COALESCE(c.kept, tk.t)) > 0),
       |fpr AS (
       |  SELECT doc_id, lang, n_pii, nr,
       |    CAST(len(tt) AS BIGINT) AS toks_out,
       |    md5(COALESCE(array_to_string(tt[1:10], ' '), '')) AS fp
       |  FROM cl),
       |minfp AS (
       |  SELECT lang, n_pii, nr, toks_out
       |  FROM (SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS kp
       |        FROM fpr) z
       |  WHERE kp),
       |incnt AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_in
       |  FROM scr GROUP BY lang)
       |SELECT m.lang, i.n_docs_in,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(m.n_pii) AS BIGINT) AS n_pii_redacted,
       |  CAST(SUM(m.nr) AS BIGINT) AS span_tokens_removed,
       |  CAST(SUM(m.toks_out) AS BIGINT) AS total_tokens_out
       |FROM minfp m JOIN incnt i USING (lang)
       |GROUP BY m.lang, i.n_docs_in
       |ORDER BY m.lang""".stripMargin
  }

  /** pipe_tokenize — the release TOKENIZATION job: scrub (PII redact +
    * duplicated-span removal) → exact prefix-fingerprint dedup → BPE
    * tokenize each kept document under the corpus-trained merge table
    * → pack the BPE token stream into [[PackBudget]]-token training
    * sequences per [[ShardDocs]]-doc shard. The output is the
    * per-document pack manifest a trainer consumes: which pack each
    * document starts in, at what offset, and whether it straddles a
    * boundary. This is [[pipeScrub]]'s cleaning order composed with
    * [[graft.operators.TextAnalysis.taBpeApply]]'s vocabulary-join
    * tokenization and [[taPack]]'s per-shard windows — the full
    * "corpus in, training sequences out" plan every LLM pretraining
    * pipeline runs.
    *
    * The tokenizer (merge table) is the RAW-corpus session model: a
    * tokenizer is a fixed asset trained once on a reference corpus;
    * per-release cleaning happens downstream of tokenizer training.
    * The vocabulary joined against is derived from the CLEANED kept
    * docs in-plan (scrubbing rewrites text, so the raw-corpus
    * vocabulary cache does not cover it — injected/redacted tokens
    * differ).
    *
    * Scale shape: the scrub stages are per-row regex passes; the span
    * chain and prefix dedup are the linear partial-aggregated shapes
    * certified on `pipe_scrub`; tokenization is explode →
    * broadcast-join(|vocab|) → per-doc partial agg; packing windows
    * run per shard, never globally. No corpus-sized sort, no
    * quadratic stage anywhere.
    */
  def pipeTokenize(s: SparkSession, d: String): DataFrame = {
    val m = TextAnalysis.trainedMerges(s, d)
    require(m.size == TextAnalysis.BpeTrainMerges,
      s"vocabulary exhausted after ${m.size} merges; pipe_tokenize's " +
        s"oracle requires ${TextAnalysis.BpeTrainMerges} learnable merges")
    // the gate reads the session-cached cleaned corpus (the shared
    // release artifact [[pipeScrub]] also consumes) instead of
    // re-running the scrub + span chain in-plan
    packManifest(
      cachedCleanedRel(s, d).filter(size(col("tt")) > 0)
        .select(col("doc_id"), col("tt")),
      m.map(x => (x._2, x._3)))
  }

  /** Frame-parametric core of [[pipeTokenize]] over ANY `(doc_id,
    * text)` frame and merge table — the form `graft.api.Corpus
    * .tokenizePacked` exposes. Cleans in-plan (PII scrub + span
    * removal); the gate serves the cleaned relation from the session
    * cache instead.
    */
  def tokenizePacked(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    def jtoks(c: org.apache.spark.sql.Column) =
      filter(split(c, "\\p{javaWhitespace}+"), t => length(t) > 0)
    val scr = docs.select(col("doc_id"),
      Pii.redacted(col("text")).as("redacted"))
    val sp = Dedup2.spansRemoved(
      scr.select(col("doc_id"), col("redacted").as("text")))
      .select(col("doc_id"), col("cleaned_text"))
    val cleaned = scr.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        jtoks(coalesce(col("cleaned_text"), col("redacted"))).as("tt"))
      .filter(size(col("tt")) > 0)
    packManifest(cleaned, merges)
  }

  /** Prefix-dedup, BPE-tokenize and pack a cleaned `(doc_id, tt)`
    * token-array frame — the shared tail of [[pipeTokenize]] (cached
    * cleaned relation) and [[tokenizePacked]] (in-plan cleaning).
    */
  private def packManifest(cleaned: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val kept = cleaned
      .withColumn("fp", md5(concat_ws(" ", slice(col("tt"), 1, 10))))
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("tt"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.tt").as("tt"))
    // explode_outer: a kept doc whose tokens are all non-alphanumeric
    // (fully redacted) still occupies its place in the pack stream
    // with n_bpe_tokens = 0
    val occ = kept.select(col("doc_id"),
      explode_outer(expr("filter(tt, w -> w rlike '^[A-Za-z0-9]+$')"))
        .as("w"))
    val vocabTok = TextAnalysis.bpeVocabTok(
      occ.filter(col("w").isNotNull).select(col("w")).distinct(),
      merges)
    val perdoc = occ.join(broadcast(vocabTok), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("__n_tok")), lit(0L))
        .cast("long").as("n_bpe_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perdoc
      .withColumn("shard", expr(s"doc_id DIV $ShardDocs"))
      .withColumn("start_off",
        coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_bpe_tokens"),
        col("start_off"),
        expr(s"start_off DIV $PackBudget").as("pack_id"),
        (col("n_bpe_tokens") > 0 &&
          expr(s"(start_off + n_bpe_tokens - 1) DIV $PackBudget") =!=
            expr(s"start_off DIV $PackBudget")).as("crosses_boundary"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[pipeTokenize]]: the scrub replaces (counts
    * not needed here), the shared spans-apply chain re-rooted at the
    * scrubbed relation, the window-min prefix survivor, the BPE
    * training CTEs ([[graft.operators.TextAnalysis.bpeStagesSql]],
    * over RAW documents — the same corpus-trained model the engine
    * serves), the vocabulary-join tokenization, and [[taPackSql]]'s
    * shard windows.
    */
  val pipeTokenizeSql: String = {
    val scrubStages = Pii.Passes.zipWithIndex.map {
      case ((re, tok, _), i) =>
        val prev = if (i == 0) "inj" else s"s$i"
        s"""s${i + 1} AS (
           |  SELECT doc_id, regexp_replace(t, '$re', '$tok', 'g') AS t
           |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH inj AS (
       |  SELECT doc_id, ${Pii.injectedTextSql} AS t
       |  FROM documents),
       |$scrubStages,
       |scrdocs AS (SELECT doc_id, t AS text FROM s${Pii.Passes.size}),
       |${Dedup2.spansApplyCtesSqlFrom(Dedup2.SpanWindow, "scrdocs")},
       |cl AS (
       |  SELECT sd.doc_id, COALESCE(c.kept, tk.t) AS tt
       |  FROM scrdocs sd
       |  JOIN toks tk USING (doc_id)
       |  LEFT JOIN cleaned c USING (doc_id)
       |  WHERE len(COALESCE(c.kept, tk.t)) > 0),
       |keptd AS (
       |  SELECT doc_id, tt FROM (
       |    SELECT doc_id, tt,
       |      doc_id = MIN(doc_id) OVER (PARTITION BY
       |        md5(COALESCE(array_to_string(tt[1:10], ' '), ''))) AS kp
       |    FROM cl) z
       |  WHERE kp),
       |${TextAnalysis.bpeStagesSql},
       |aw AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(tt) AS w FROM keptd) u
       |  WHERE regexp_full_match(w, '[A-Za-z0-9]+')),
       |voc AS (SELECT DISTINCT w FROM aw),
       |vt AS (
       |  SELECT w,
       |    CAST(len(string_split(trim(${TextAnalysis.bpeAppliedChainSql}), '  ')) AS BIGINT) AS n_tok
       |  FROM (SELECT voc.w, ${TextAnalysis.bpeMergeColsSql}
       |        FROM voc ${TextAnalysis.bpeMergeCrossJoinsSql}) q),
       |perdoc AS (
       |  SELECT k.doc_id,
       |    CAST(COALESCE(sums.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
       |  FROM keptd k LEFT JOIN (
       |    SELECT aw.doc_id, SUM(vt.n_tok) AS n_bpe
       |    FROM aw JOIN vt USING (w) GROUP BY aw.doc_id) sums
       |  USING (doc_id)),
       |offs AS (
       |  SELECT doc_id, doc_id // $ShardDocs AS shard, n_bpe_tokens,
       |    CAST(COALESCE(SUM(n_bpe_tokens) OVER (
       |      PARTITION BY doc_id // $ShardDocs ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM perdoc)
       |SELECT doc_id, shard, n_bpe_tokens, start_off,
       |  start_off // $PackBudget AS pack_id,
       |  n_bpe_tokens > 0 AND
       |    (start_off + n_bpe_tokens - 1) // $PackBudget <>
       |      start_off // $PackBudget AS crosses_boundary
       |FROM offs
       |ORDER BY doc_id""".stripMargin
  }

  val ContamGram = 8     // n-gram width for contamination checks
  val EvalBuckets = 20L  // md5 bucket count; bucket 0 = the eval split

  /** Train/eval contamination check: a deterministic ~5% md5-bucket of
    * documents plays the eval set; for each eval doc, the fraction of
    * its 8-gram shingles that appear ANYWHERE in the train split. The
    * decontamination primitive of an LLM data pipeline. Shingles travel
    * as md5-derived 8-byte hashes (identical in both engines, collisions
    * included); the train side dedups to one row per distinct shingle,
    * then one keyed equi-join — no document ever meets another document,
    * only shingle hashes meet, so it scales like the LSH family.
    */
  /** Frame-parametric contamination core: per eval doc, the fraction of
    * its n-gram shingles present anywhere in `train`. Both frames need
    * `(doc_id, text)`. Shared by the gated [[taContamination]] and
    * `graft.api.Corpus.contamination`.
    */
  def contamination(train: DataFrame, eval_ : DataFrame,
      gram: Int = ContamGram): DataFrame = {
    // per-doc shingle dedup is map-side (array_distinct on the hash
    // array) — each doc_id appears once per frame, so this equals the
    // post-explode (doc_id, s) distinct that used to shuffle here; the
    // train side then needs only ONE keyed distinct on the hash itself
    // (it previously shuffled twice: (doc, s) distinct, then s distinct)
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(array_distinct(graft.functions.WordShingleHashesExpr
        .wordShingleHashesNative(col("text"), gram))).as("s"))
    val evalSh = sh(eval_)
    val trainSh = sh(train).select(col("s")).distinct()
    val cnt = evalSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hit = evalSh.join(trainSh, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    cnt.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast(DoubleType) /
          col("n_shingles")).as("contamination"))
  }

  def taContamination(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val isEval =
      md5Bucket(col("doc_id").cast("string"), EvalBuckets.toInt) === 0
    contamination(docs.filter(!isEval), docs.filter(isEval))
      .orderBy(col("doc_id"))
  }

  val taContaminationSql: String = {
    val gram = (0 until ContamGram).map(j =>
      if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(s0), 1, 16)) AS UBIGINT) AS s
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(t) - ${ContamGram - 2}),
       |            i -> $gram)) AS s0
       |        FROM toks WHERE len(t) >= $ContamGram) r),
       |flag AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % $EvalBuckets = 0 AS is_eval
       |  FROM documents),
       |evalsh AS (SELECT sh.doc_id, s FROM sh JOIN flag USING (doc_id) WHERE is_eval),
       |trainsh AS (SELECT DISTINCT s FROM sh JOIN flag USING (doc_id) WHERE NOT is_eval),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM evalsh GROUP BY doc_id),
       |hit AS (SELECT e.doc_id, COUNT(*) AS n_contaminated
       |        FROM evalsh e JOIN trainsh t ON e.s = t.s GROUP BY e.doc_id)
       |SELECT c.doc_id,
       |  CAST(c.n_shingles AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / c.n_shingles AS contamination
       |FROM cnt c LEFT JOIN hit h ON h.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  val QaBudgetFrac = 0.5

  /** Composed corpus-QA pipeline from the round's primitives: per-domain
    * length-tail trim (keep docs inside their source's exact [p10, p90]
    * band), exact full-text-fingerprint dedup (keep the lowest doc_id
    * per md5 of the normalized text), then a token-exact budget cut at
    * half the surviving tokens via the two-phase running sum — the
    * "trim, dedup, then take exactly N tokens" assembly in ONE plan.
    * Shuffles: the tiny percentile aggregate (fences broadcast back),
    * one on the fingerprint, one on the budget's bucket key — the
    * corpus never sorts globally.
    */
  def pipeQa(s: SparkSession, d: String): DataFrame = {
    // narrow-decision form (same as [[CorpusOps.cpTokenBudget]]): the
    // fence join + fingerprint-dedup shuffle + corpus tokenize run
    // ONCE, materialized at (doc_id, n_tokens); the budget aggregate,
    // the offsets branch and the final cut replay the 16-byte-row
    // checkpoint instead of re-running the whole QA chain (three full
    // evaluations before)
    val t = qaCountedRel(s, d).localCheckpoint()
    val budget = t.agg(
      floor(lit(QaBudgetFrac) * sum(col("n_tokens"))).as("__budget"))
    CorpusOps.tokenBudgetCounted(t.crossJoin(broadcast(budget)),
        col("__budget"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The un-materialized trim + dedup + token-count relation of
    * [[pipeQa]] — split out (the [[graft.operators.GraphRank]]
    * `summarizeBuild` pattern) so the plan-audit suite can pin the
    * survivor selection's partial aggregation, which the gated
    * query's serve plan hides behind its checkpoint scan.
    */
  private[graft] def qaCountedRel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val fences = Percentiles.exact(docs, "source", "n_chars",
      Seq(("p10", TextAnalysis.TailLo), ("p90", TextAnalysis.TailHi)))
    // survivor selection is a partial-aggregated struct-min (doc_id
    // leads the struct, so lexicographic min = the lowest-id row WITH
    // its text), not a window over fp: map-side partials collapse a
    // 10⁷-copy boilerplate group to one row per task before the
    // exchange, where the window form would sort the whole group in
    // one AQE-unsplittable partition
    docs
      .join(broadcast(fences), Seq("source"))
      .filter(col("n_chars") >= col("p10") && col("n_chars") <= col("p90"))
      .groupBy(fingerprintMd5(col("text")).as("fp"))
      .agg(min(struct(col("doc_id"), col("text"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"),
        size(tokens(col("keep.text"))).cast("long").as("n_tokens"))
  }

  val pipeQaSql: String =
    s"""WITH pct AS (
       |${Percentiles.exactSql("documents", "source", "n_chars",
          Seq(("p10", TextAnalysis.TailLo), ("p90", TextAnalysis.TailHi)))}),
       |band AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d JOIN pct p ON d.source = p.source
       |  WHERE d.n_chars >= p.p10 AND d.n_chars <= p.p90),
       |ded AS (
       |  SELECT doc_id, text
       |  FROM (SELECT doc_id, text,
       |          doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep
       |        FROM band) k
       |  WHERE keep),
       |t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    md5('budget:' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM ded),
       |tot AS (SELECT floor(CAST($QaBudgetFrac AS DOUBLE) * SUM(n_tokens)) AS budget FROM t),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, n_tokens, cum_tokens
       |FROM r, tot
       |WHERE cum_tokens - n_tokens < budget
       |ORDER BY doc_id""".stripMargin

  /** Deterministic event-time base for [[pipeIngest]]: docs spread over
    * one hour of [[graft.streaming.DocStreams.IngestWindowSec]]-second
    * windows via `ts = base + (doc_id·7 mod 3600)`.
    */
  val IngestBaseEpoch = 1700000000L

  /** Batch twin of the composed streaming ingest pipeline
    * ([[graft.streaming.DocStreams.ingestPipeline]]: PII scrub →
    * quality filter → first-arrival fingerprint dedup → chunk →
    * per-(window, lang) corpus stats) — the SAME code path the stream
    * runs, driven by a batch frame with deterministic event times, so
    * the driver's oracle gates the composition and not just its stages.
    */
  def pipeIngest(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"),
      col("lang"),
      timestamp_seconds(lit(IngestBaseEpoch) + (col("doc_id") * 7) % 3600)
        .as("ts"))
    graft.streaming.DocStreams.ingestPipeline(docs)
      .orderBy(col("win_start_s"), col("lang"))
  }

  /** DuckDB mirror: the same four sequential PII passes (identity on
    * this punctuation-free corpus, but mirrored faithfully), quality
    * fence, min-(ts, doc_id) survivor per prefix fingerprint, chunk
    * geometry, and epoch-aligned 600 s tumbling windows.
    */
  val pipeIngestSql: String = {
    val win = graft.streaming.DocStreams.IngestWindowSec
    val redact = Pii.Passes.foldLeft("text") { case (t, (re, tok, _)) =>
      s"regexp_replace($t, '$re', '$tok', 'g')"
    }
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    $IngestBaseEpoch + (doc_id * 7) % 3600 AS ts_s,
       |    $redact AS rt
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, lang, ts_s,
       |    list_filter(regexp_split_to_array(rt, '\\s+'), x -> x <> '') AS t
       |  FROM base),
       |q AS (
       |  SELECT doc_id, lang, ts_s, t,
       |    md5(array_to_string(t[1:10], ' ')) AS fp
       |  FROM toks
       |  WHERE len(t) > 0 AND ${TextAnalysis.qualityScoreSql("t")} >= $QualityMin),
       |ded AS (
       |  SELECT doc_id, lang, ts_s, t FROM q
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY ts_s, doc_id) = 1),
       |chunks AS (
       |  SELECT lang, ts_s, ci, len(${chunkSliceSql("ci")}) AS chunk_tokens
       |  FROM (SELECT lang, ts_s, t, $chunkIdxSql AS ci FROM ded) g)
       |SELECT (ts_s // $win) * $win AS win_start_s, lang,
       |  CAST(SUM(CASE WHEN ci = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(chunk_tokens) AS BIGINT) AS sum_chunk_tokens
       |FROM chunks
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  val PairsK = 3 // mined positives per kept document

  /** Contrastive-pair mining for retrieval training — three families
    * composed as ONE gated plan: (a) corpus QA (quality floor + exact
    * prefix-fingerprint dedup, survivor = partial-aggregated min, the
    * skew-safe form), (b) the doc→embedding link (`doc_id = vec_id`,
    * the corpus convention), (c) neighbor mining over a trained IVF
    * index built on the CLEAN corpus only — each kept document's
    * top-[[PairsK]] nearest kept documents become its positives.
    * Cleaning BEFORE indexing is the production order: duplicates would
    * otherwise mine themselves as degenerate near-identical positives
    * and skew the cell population. Index sizing (⌈√n⌉ cells over the
    * KEPT count) and sampled-Lloyd training both derive from the
    * filtered corpus, so the oracle trains the identical index.
    */
  def pipePairs(s: SparkSession, d: String): DataFrame =
    // the QA-survivor ids come from the shared session-cached survivor
    // relation (same struct-min selection, doc_id-led so ids match
    // keptVecIds exactly); the measured content stays the index build
    minedPairsFromKept(cachedQaKept(s, d).select(col("doc_id").as("vec_id")),
      embeddings(s, d), PairsK)

  /** Frame-parametric core of [[pipePairs]] over ANY `(doc_id, text)`
    * docs frame and `(vec_id, embedding)` vectors frame linked by id —
    * the ONE definition of the mine-positives pass, shared by the gated
    * query and `graft.api.Corpus.minedPairs`.
    */
  /** The QA-survivor id relation of [[minedPairs]] (quality floor +
    * partial-aggregated min per fingerprint) — split out so the
    * plan-audit suite can pin the skew-safe aggregation shape, which
    * the gated query's serve plan hides behind its checkpoint scan.
    */
  private[graft] def keptVecIds(docs: DataFrame): DataFrame =
    qualityFp(docs)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("vec_id"))
      .select(col("vec_id"))

  /** Session-cached QA-survivor relation `(doc_id, lang, t)` — the
    * quality-floor + prefix-fingerprint-dedup survivor set (struct-min
    * per fingerprint, the skew-safe form) THREE gates each re-derived
    * per run: [[pipeE2e]] chunks it, [[pipeMix]] budgets it,
    * [[pipePairs]] mines over its ids. This is the cleaned-corpus
    * prefix the pipe family's scaladoc already names as the shared
    * release artifact; the survivor selection runs once per (session,
    * corpus) and each consumer projects its own view. The struct-min's
    * leading field is `doc_id` (unique), so the kept rows — and
    * [[keptVecIds]]'s min-id set — are identical by construction.
    * The plan-audit suite pins the partial-aggregated struct-min on the
    * artifact's `build`, which the consumers' serve plans hide behind
    * the checkpoint scan. Lifetime guards live in [[Artifacts]].
    */
  private[graft] val cachedQaKept = Artifacts.declare("qakept")((s, d) =>
    documents(s, d)
      .filter(size(toks) > 0 &&
        TextAnalysis.qualityScore(toks) >= QualityMin)
      .select(col("doc_id"), col("lang"), toks.as("t"),
        md5(concat_ws(" ", slice(toks, 1, 10))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("t"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.t").as("t")))

  def minedPairs(docs: DataFrame, vectors: DataFrame,
      k: Int = PairsK): DataFrame =
    minedPairsFromKept(keptVecIds(docs), vectors, k)

  /** [[minedPairs]] from an already-built kept-id relation — the gated
    * query passes [[cachedQaKept]]'s ids; the frame-parametric form
    * above derives them in-plan.
    */
  private def minedPairsFromKept(kept: DataFrame, vectors: DataFrame,
      k: Int): DataFrame = {
    // one materialization of the kept corpus — the same posture as
    // [[minedPairsUpsert]]'s eBatch: without it the QA chain (corpus
    // tokenize + quality score + fingerprint dedup + vector join)
    // re-runs for the count, the Lloyd training sample, the assignment
    // pass AND the probe pass — four corpus passes for one relation
    // (measured 2.87 s -> 2.04 s isolated median at sf0.1).
    // Lifetime: per-call and UNREGISTERED by design (eBatch precedent)
    // — nothing retains the frame after the mined result is consumed,
    // so the ContextCleaner frees the blocks on the next GC; only
    // session-cached frames (which stay strongly referenced) need the
    // Artifacts eviction machinery
    val eKept = vectors.join(kept, "vec_id")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val n = eKept.count()
    val cent = Similarity.trainedCentroids(
      eKept, Similarity.numCellsFor(n), n)
    Similarity.knnJoinWithCentroids(eKept, cent, k)
  }

  val pipePairsSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH tq AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |keptd AS (
       |  SELECT MIN(doc_id) AS vec_id
       |  FROM (SELECT doc_id, md5(array_to_string(t[1:10], ' ')) AS fp
       |        FROM tq
       |        WHERE len(t) > 0 AND
       |          ${TextAnalysis.qualityScoreSql("t")} >= $QualityMin) f
       |  GROUP BY fp),
       |e AS (
       |  SELECT em.vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings em JOIN keptd USING (vec_id)),
       |${Similarity.trainedCentCtesSqlFrom("e")},
       |ranks AS (
       |  SELECT e.vec_id, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, cell FROM ranks WHERE crank = 1),
       |probes AS (SELECT vec_id AS q_id, cell FROM ranks
       |           WHERE crank <= ${Similarity.NumProbes}),
       |scored AS (
       |  SELECT p.q_id, a.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  JOIN e eq ON eq.vec_id = p.q_id
       |  JOIN e ec ON ec.vec_id = a.c_id
       |  WHERE p.q_id <> a.c_id)
       |SELECT q_id, rank, c_id, cosine
       |FROM (SELECT q_id, c_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, c_id) AS INTEGER) AS rank
       |      FROM scored) t
       |WHERE rank <= $PairsK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // pipe_pairs_upsert — INCREMENTAL pair mining: a new document batch
  // mines positives against the persisted clean-corpus IVF index.
  // ---------------------------------------------------------------------

  /** The base (pre-batch) clean-corpus pair-mining index: the base
    * survivor relation `(fp, vec_id)`, centroids trained on the base
    * KEPT corpus and its inverted lists — the persisted artifacts a
    * nightly contrastive-data pipeline probes each new batch against.
    * Same posture as [[Similarity.ivfBaseLists]]. The base survivor
    * relation is the dd_incremental "seen fingerprints" table; without
    * it every batch run re-tokenizes the WHOLE base corpus just to
    * know what yesterday kept (measured 8.7 s warm at the 10× probe
    * vs 2.5 s with it cached — the difference between O(corpus) and
    * O(batch) per nightly run).
    */
  private val pairsBaseKept = Artifacts.declare("pairs_basekept") { (s, d) =>
    val docs = documents(s, d)
    qualityFp(docs)
      .filter(col("doc_id") < Similarity.upsertThreshold(docs.count()))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("vec_id"))
  }

  private def pairsBaseVecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .join(pairsBaseKept(s, d).select(col("vec_id")), "vec_id")
      .select(col("vec_id"), col("embedding"))

  private val pairsBaseCent = Artifacts.declare("pairs_cent") { (s, d) =>
    val e = pairsBaseVecs(s, d)
    val n = e.count()
    Similarity.trainedCentroids(e, Similarity.numCellsFor(n), n)
  }

  private val pairsBaseLists = Artifacts.declare("pairs_lists")((s, d) =>
    Similarity.kernelProbeCells(pairsBaseVecs(s, d), pairsBaseCent(s, d),
      1, "c_id", "cv_c", "cn_c"))

  /** The quality-floor + prefix-fingerprint relation of [[minedPairs]]
    * — `(doc_id, fp)` for docs above the floor; the dedup key both the
    * batch-local and base-vs-batch survivor logic run on.
    */
  private[graft] def qualityFp(docs: DataFrame): DataFrame =
    docs.filter(size(toks) > 0 &&
        TextAnalysis.qualityScore(toks) >= QualityMin)
      .select(col("doc_id"), md5(concat_ws(" ", slice(toks, 1, 10))).as("fp"))

  /** Incremental contrastive-pair mining — the lake-incremental form of
    * [[pipePairs]] a production pipeline runs nightly: the first 4/5 of
    * the corpus (by doc_id, [[Similarity.upsertThreshold]]) is
    * "yesterday's" cleaned-and-indexed base; the last 1/5 is the
    * newly-arrived batch. The batch passes the same QA the base did —
    * quality floor, batch-local fingerprint dedup, AND a fingerprint
    * anti-join against the base survivors (the `dd_incremental`
    * posture: a re-crawl of an already-kept doc must not mine itself) —
    * then mines each surviving NEW doc's top-[[PairsK]] neighbors from
    * the base index with the batch UPSERTED by assignment (the
    * `sim_ivf_upsert` contract: no retrain, no touch of existing
    * lists). Candidates span base ∪ batch, so a new doc can pair with
    * the whole kept corpus.
    *
    * Per-run cost given the cached base index is O(|batch|): the
    * batch-side QA scans the batch slice (the threshold pushes to the
    * parquet footer), assignment + probing run the one-pass centroid
    * kernel per batch vector, and the mining join touches only probed
    * cells. The base index builds ONCE ([[pairsBaseLists]]) — exactly
    * what `SCALING.md`'s upsert ladder measures.
    */
  /** Frame-parametric core of [[pipePairsUpsert]]'s batch pass: QA the
    * batch (quality floor + batch-local fp dedup + anti-join against
    * `baseFps`, the persisted seen-fingerprint relation), upsert the
    * survivors into the base index by assignment, and mine each
    * survivor's top-`k` from base ∪ batch. The handle form
    * `graft.api.Corpus.minePairsIncremental` exposes. `baseCent` /
    * `baseLists` are a trained IVF index over the base KEPT vectors;
    * all per-run work is O(batch).
    */
  private[graft] def minedPairsUpsert(batchDocs: DataFrame,
      batchVectors: DataFrame, baseCent: DataFrame, baseLists: DataFrame,
      baseFps: DataFrame, k: Int = PairsK): DataFrame = {
    val S = Similarity
    val kept = qualityFp(batchDocs)
      .join(baseFps.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("vec_id"))
      .select(col("vec_id"))
    // one materialization of the surviving batch — it feeds the list
    // upsert, the probe side, and the exact re-score (see the gate's
    // Scaladoc for the measured cost of skipping this)
    val eBatch = batchVectors.join(kept, "vec_id")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val lists = baseLists.union(
      S.kernelProbeCells(eBatch, baseCent, 1, "c_id", "cv_c", "cn_c"))
    S.annServeWith(baseCent, lists, eBatch, k, excludeSelf = true)
  }

  def pipePairsUpsert(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val thr = Similarity.upsertThreshold(docs.count())
    minedPairsUpsert(docs.filter(col("doc_id") >= thr), embeddings(s, d),
      pairsBaseCent(s, d), pairsBaseLists(s, d), pairsBaseKept(s, d))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB mirror: base/delta kept CTEs (quality + fingerprint
    * survivor + cross-batch anti-join), centroids trained on the BASE
    * kept relation only, assignment over base ∪ delta, probes
    * restricted to the delta — the full served chain.
    */
  val pipePairsUpsertSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH tq AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |thr AS (SELECT COUNT(*) * 4 // 5 AS th FROM documents),
       |qf AS (
       |  SELECT doc_id, md5(array_to_string(t[1:10], ' ')) AS fp
       |  FROM tq
       |  WHERE len(t) > 0 AND
       |    ${TextAnalysis.qualityScoreSql("t")} >= $QualityMin),
       |basekept AS (
       |  SELECT fp, MIN(doc_id) AS vec_id FROM qf
       |  WHERE doc_id < (SELECT th FROM thr) GROUP BY fp),
       |deltakept AS (
       |  SELECT MIN(doc_id) AS vec_id FROM qf
       |  WHERE doc_id >= (SELECT th FROM thr)
       |    AND fp NOT IN (SELECT fp FROM basekept)
       |  GROUP BY fp),
       |e AS (
       |  SELECT em.vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings em JOIN basekept USING (vec_id)),
       |ed AS (
       |  SELECT em.vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings em JOIN deltakept USING (vec_id)),
       |eall AS (SELECT * FROM e UNION ALL SELECT * FROM ed),
       |${Similarity.trainedCentCtesSqlFrom("e")},
       |ranks AS (
       |  SELECT eall.vec_id, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY eall.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(eall.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (eall.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM eall CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, cell FROM ranks WHERE crank = 1),
       |probes AS (SELECT vec_id AS q_id, cell FROM ranks
       |           WHERE crank <= ${Similarity.NumProbes}
       |             AND vec_id IN (SELECT vec_id FROM deltakept)),
       |scored AS (
       |  SELECT p.q_id, a.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  JOIN eall eq ON eq.vec_id = p.q_id
       |  JOIN eall ec ON ec.vec_id = a.c_id
       |  WHERE p.q_id <> a.c_id)
       |SELECT q_id, rank, c_id, cosine
       |FROM (SELECT q_id, c_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, c_id) AS INTEGER) AS rank
       |      FROM scored) t
       |WHERE rank <= $PairsK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // pipe_mix — waterfill-budgeted training mix in ONE plan.
  // ---------------------------------------------------------------------

  /** Composed mix assembly: quality floor → prefix-fingerprint dedup
    * (the [[pipeE2e]] survivor stages) → per-language token capacities
    * → [[CorpusOps.waterfillAlloc]] max-min allocation of half the
    * surviving tokens → a salted-md5-ordered greedy cut PER LANGUAGE
    * down to each language's allocation. One plan answers "what does
    * tomorrow's training mix look like": per language, the available
    * tokens, the fair allocation, and how many docs/tokens the cut
    * actually keeps (a kept doc must FIT — `cum ≤ alloc`, unlike
    * [[CorpusOps.tokenBudget]]'s start-before-budget rule, because an
    * allocation is a hard ceiling where a corpus budget is a target).
    *
    * Scale: survivors partial-aggregate as in [[pipeQa]]; the
    * allocation math runs on the ≤|languages| capacity relation; the
    * per-language cut is one window over the language partitioning
    * (the dominant-stratum caveat and two-pass fallback documented at
    * [[CorpusOps.stratifiedSample]] apply identically). Languages
    * whose allocation fits no document still emit their row — absence
    * of kept docs is the finding.
    */
  def pipeMix(s: SparkSession, d: String): DataFrame = {
    // same survivor selection as pipeE2e/pipePairs, served from the
    // shared session-cached QA-survivor relation
    val kept = cachedQaKept(s, d)
      .select(col("doc_id"), col("lang"),
        size(col("t")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"))
    val caps = kept.groupBy(col("lang").as("domain"))
      .agg(sum(col("n_tokens")).as("c"))
    val alloc = CorpusOps.waterfillAlloc(caps)
      .select(col("domain").as("lang"),
        col("n_tokens").as("available_tokens"), col("alloc"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("__k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = kept
      .withColumn("__k", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(alloc.select(col("lang"), col("alloc"))), Seq("lang"))
      .filter(col("cum") <= col("alloc"))
    val rolled = cut.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_kept"))
    alloc.join(rolled, Seq("lang"), "left")
      .select(col("lang"), col("available_tokens"), col("alloc"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy(col("lang"))
  }

  val pipeMixSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $toksSql AS t FROM documents),
       |q AS (
       |  SELECT doc_id, lang, t,
       |    md5(array_to_string(t[1:10], ' ')) AS fp
       |  FROM toks
       |  WHERE len(t) > 0 AND
       |    ${TextAnalysis.qualityScoreSql("t")} >= $QualityMin),
       |kept AS (
       |  SELECT doc_id, lang, t
       |  FROM (SELECT doc_id, lang, t,
       |          doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
       |        FROM q) k
       |  WHERE keep),
       |sized AS (
       |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens FROM kept),
       |caps AS (
       |  SELECT lang AS domain, CAST(SUM(n_tokens) AS BIGINT) AS c
       |  FROM sized GROUP BY 1),
       |${CorpusOps.waterfillCtesSql("caps")},
       |cut AS (
       |  SELECT s.lang, s.doc_id, s.n_tokens,
       |    CAST(SUM(s.n_tokens) OVER (PARTITION BY s.lang
       |      ORDER BY md5('mix:' || CAST(s.doc_id AS VARCHAR)), s.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM sized s),
       |rolled AS (
       |  SELECT c.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(c.n_tokens) AS BIGINT) AS tokens_kept
       |  FROM cut c JOIN wf ON c.lang = wf.domain
       |  WHERE c.cum <= wf.alloc
       |  GROUP BY c.lang)
       |SELECT wf.domain AS lang, wf.c AS available_tokens, wf.alloc,
       |  CAST(COALESCE(r.n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(r.tokens_kept, 0) AS BIGINT) AS tokens_kept
       |FROM wf LEFT JOIN rolled r ON wf.domain = r.lang
       |ORDER BY lang""".stripMargin
  }

  val gated: Seq[Gated] = Seq(
    Gated("pipe_mix",          pipeMix,         pipeMixSql),
    Gated("ta_chunk",          taChunk,         taChunkSql),
    Gated("ta_pack",           taPack,          taPackSql),
    Gated("ta_contamination",  taContamination, taContaminationSql),
    Gated("pipe_e2e",          pipeE2e,         pipeE2eSql),
    Gated("pipe_scrub",        pipeScrub,       pipeScrubSql),
    Gated("pipe_tokenize",     pipeTokenize,    pipeTokenizeSql),
    Gated("pipe_qa",           pipeQa,          pipeQaSql),
    Gated("pipe_ingest",       pipeIngest,      pipeIngestSql),
    Gated("pipe_pairs",        pipePairs,       pipePairsSql),
    Gated("pipe_pairs_upsert", pipePairsUpsert, pipePairsUpsertSql),
  )
}
