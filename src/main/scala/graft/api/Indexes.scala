package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** A BUILT flat-IVF index over an embedding frame: the trained
  * centroid table and the inverted lists (one row per indexed vector —
  * home cell, raw vector, norm), both `localCheckpoint`-materialized.
  * This is the handle form of the build-once/serve-many split the
  * gated queries get from their session caches ([[graft.operators
  * .Similarity.cachedIvfLists]]): build it once with
  * [[Corpus.buildAnnIndex]], then answer any number of query batches
  * through [[topK]] without retraining — each serve costs
  * O(|queries|·√n) probe-kernel work plus the candidate cell join,
  * independent of corpus size. To outlive the session, persist with
  * [[Corpus.saveAnnIndex]] (versioned tables + an atomic pointer
  * commit pinning a consistent centroids/lists pair) and rehydrate
  * with [[Corpus.loadAnnIndex]].
  */
final case class AnnIndex private[api] (
    centroids: DataFrame, lists: DataFrame) {

  /** Top-`k` indexed vectors for every `(vec_id, embedding)` query row
    * — `(q_id, rank, c_id, cosine)` with exact re-scored cosines,
    * approximate candidate recall by construction (an unprobed cell's
    * true neighbor is missed). `excludeSelf` drops `q_id == c_id`
    * pairs before ranking (set it when queries come from the indexed
    * corpus).
    */
  def topK(queries: DataFrame, k: Int,
      numProbes: Int = Similarity.NumProbes,
      excludeSelf: Boolean = false): DataFrame =
    Similarity.annServeWith(centroids, lists, queries, k, numProbes,
      excludeSelf)

  /** Release the index's checkpoint blocks. The handle (and any
    * DataFrame served from it that has not been materialized) must not
    * be used afterwards — a local checkpoint cannot recompute. The
    * lifecycle half of build-once/serve-many: a session cycling
    * through many corpora closes each index as it retires instead of
    * pinning every one until the session dies.
    */
  def close(): Unit = {
    graft.operators.Artifacts.freeLocalCheckpoint(centroids)
    graft.operators.Artifacts.freeLocalCheckpoint(lists)
  }
}

/** A built IVF×PQ index — the composition that serves a 100 TB corpus
  * from RAM (FAISS's `IVFx,PQy`): the coarse quantizer + inverted
  * lists of a flat [[AnnIndex]] (the lists' raw vectors double as the
  * exact-refine relation), the trained PQ codebooks, and the encoded
  * codes (~n·M narrow rows — the 1/64-of-corpus representation the PQ
  * design exists to produce). Build once with
  * [[Corpus.buildIvfPqIndex]]; every [[topK]] serve probes the coarse
  * cells, ADC-scans only the candidates' codes, and exact-refines the
  * shortlist — sublinear in corpus size, zero training. Persist with
  * [[Corpus.saveIvfPqIndex]]; maintain with
  * [[Corpus.refreshIvfPqIndex]] (frozen centroids AND frozen
  * codebooks — both arms O(delta)).
  */
final case class IvfPqIndex private[api] (ann: AnnIndex,
    codebooks: DataFrame, codes: DataFrame) {

  /** Top-`k` with EXACT refined cosines over the ADC shortlist —
    * `(q_id, rank, c_id, cosine)`, approximate candidate recall by
    * construction (gated with a floor as `sim_ivfpq`).
    */
  def topK(queries: DataFrame, k: Int,
      numProbes: Int = Similarity.IvfPqProbes,
      excludeSelf: Boolean = false): DataFrame =
    Similarity.ivfPqTopK(
      ann.lists.select(col("c_id").as("vec_id"),
        col("cv_c").as("embedding")),
      queries, ann.centroids, codebooks, k,
      excludeSelfIds = excludeSelf, numProbes = numProbes,
      encoded = Some(codes),
      assignedCells = Some(
        ann.lists.select(col("c_id"), col("cell").as("icell"))))

  /** Release every artifact's checkpoint blocks (see
    * [[AnnIndex.close]]).
    */
  def close(): Unit = {
    ann.close()
    graft.operators.Artifacts.freeLocalCheckpoint(codebooks)
    graft.operators.Artifacts.freeLocalCheckpoint(codes)
  }
}

/** A built hybrid-retrieval index: the BM25 postings relation (per
  * (term, doc) scores with corpus stats baked in — the artifact
  * `st_bm25` and the gated `sim_hybrid` serve from) plus the dense
  * [[AnnIndex]]. Build once with [[Corpus.buildHybridIndex]]; serve
  * with [[Corpus.hybridTopK]] passing the handle.
  */
final case class HybridIndex private[api] (
    postings: DataFrame, ann: AnnIndex) {

  /** Release both arms' checkpoint blocks (see [[AnnIndex.close]]). */
  def close(): Unit = {
    graft.operators.Artifacts.freeLocalCheckpoint(postings)
    ann.close()
  }
}

/** A built TextRank model: the directed token-pair rollup (the ONE
  * corpus-derived relation of the family, vocabulary²-bounded and
  * ADDITIVE under corpus appends) and the fixed-point rank table the
  * ten PageRank iterations produce from it. Build once with
  * [[Corpus.buildRankModel]]; serve keywords/keyphrases via
  * [[graft.operators.GraphRank.keywords]] /
  * [[graft.operators.GraphRank.keyphrases]] with zero corpus scans.
  */
final case class RankModel private[api] (
    pairs: DataFrame, ranks: DataFrame) {

  /** Release the model's checkpoint blocks (see [[AnnIndex.close]]). */
  def close(): Unit = {
    graft.operators.Artifacts.freeLocalCheckpoint(pairs)
    graft.operators.Artifacts.freeLocalCheckpoint(ranks)
  }
}

/** The persisted base of an incremental pair-mining pipeline (the
  * gated `pipe_pairs_upsert` posture): the IVF index trained on the
  * QA-kept base corpus, its inverted lists, and the base survivor
  * fingerprints (the `dd_incremental` "seen fps" relation a new batch
  * anti-joins). Build once with [[Corpus.buildPairMiningBase]]; mine
  * each new batch with [[Corpus.minePairsIncremental]] at O(batch)
  * cost.
  */
final case class PairMiningBase private[api] (
    index: AnnIndex, fingerprints: DataFrame) {

  /** Release the base's checkpoint blocks (see [[AnnIndex.close]]). */
  def close(): Unit = {
    graft.operators.Artifacts.freeLocalCheckpoint(fingerprints)
    index.close()
  }
}

/** A TRAINED BPE tokenizer: the rank-ordered merge table
  * (`(rank, l, r, merged, cnt)`, from the production-scale batched
  * trainer) and the distinct-word vocabulary it was trained over —
  * the two artifacts a production pipeline persists when the
  * tokenizer trains, exactly as ANN indexes persist centroids+lists.
  * Build once with [[Corpus.buildTokenizer]] (or rehydrate with
  * [[Corpus.loadTokenizer]]); tokenize any number of corpora through
  * [[applied]] with ZERO further training passes.
  */
final case class Tokenizer private[api] (
    merges: DataFrame, vocab: DataFrame) {

  /** The collected rank-ordered merge rules — model-sized by
    * construction (the trainer caps the table at the requested merge
    * count), the same driver-side posture as broadcasting centroids.
    */
  lazy val mergePairs: Seq[(String, String)] =
    merges.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Tokenize a `(doc_id, text)` corpus under the trained merges:
    * per-doc `(n_words, n_chars, n_bpe_tokens)`. The persisted
    * vocabulary serves the chunked merge chain directly — no
    * corpus-distinct pass — and a corpus the vocabulary does NOT
    * cover fails loudly (the apply plan's coverage guard), never
    * undercounts: tokenize a NEW corpus through
    * [[graft.operators.TextAnalysis.bpeAppliedWith]] with
    * `vocab = None` (in-plan vocabulary) instead.
    */
  def applied(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.bpeAppliedWith(docs, mergePairs, Some(vocab))

  /** Release the checkpoint blocks (see [[AnnIndex.close]]). */
  def close(): Unit = {
    graft.operators.Artifacts.freeLocalCheckpoint(merges)
    graft.operators.Artifacts.freeLocalCheckpoint(vocab)
  }
}

private[api] object Indexes {

  /** Train + materialize a flat-IVF index over a `(vec_id, embedding)`
    * frame: ⌈√n⌉ kmeans-trained centroids (sampled Lloyd, the
    * [[Similarity.trainedCentroids]] build every gated index runs) and
    * the one-pass kernel-assigned inverted lists.
    */
  def buildAnn(corpus: DataFrame, id: String, vec: String): AnnIndex = {
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("embedding"))
    buildAnnCounted(c, c.count())
  }

  private def buildAnnCounted(c: DataFrame, n: Long): AnnIndex = {
    val cent = Similarity.trainedCentroids(c, Similarity.numCellsFor(n), n)
      .localCheckpoint()
    val lists = Similarity.kernelProbeCells(c, cent, 1,
      "c_id", "cv_c", "cn_c").localCheckpoint()
    AnnIndex(cent, lists)
  }

  /** Train + materialize an IVF×PQ index: the flat coarse index (one
    * training pass) plus PQ codebooks (a second, subspace-keyed Lloyd
    * run) and the kernel-encoded codes (scan-bound, zero training).
    * ONE corpus count shared by both trainers' sampling steps.
    */
  def buildIvfPq(corpus: DataFrame, id: String, vec: String): IvfPqIndex = {
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("embedding"))
    val n = c.count()
    val ann = buildAnnCounted(c, n)
    val cb = Similarity.pqIndex(c, n).localCheckpoint()
    val codes = Similarity.kernelEncodePq(c, cb).localCheckpoint()
    IvfPqIndex(ann, cb, codes)
  }
}
