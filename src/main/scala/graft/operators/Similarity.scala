package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths:
  *  - [[simTopkBrute]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus, one pass, per-query bounded-heap top-k via
  *    a rank window. The corpus side never shuffles its vectors; at
  *    100 TB this is a map-side scan + a tiny (numQueries × k) result.
  *  - [[simAnnLsh]]: approximate top-k via random-hyperplane LSH — sign
  *    bits of dot products with fixed hyperplanes bucket the corpus; only
  *    same-bucket candidates are scored. The scale path when the query
  *    set is itself large: one shuffle on bucket keys, no cross join.
  */
object Similarity {

  val TopK = 10
  val NumQueryVectors = 5

  // k-means / IVF sizing — declared ahead of the eager oracle-SQL vals
  // that interpolate them (object init is top-down; a forward val
  // reference would capture 0).
  val KmK = 8      // clusters for the gated emb_kmeans query
  val KmIters = 2  // Lloyd iterations (centroid updates)

  /** Corpus-derived IVF cell count: `⌈√n⌉` (floor 2). The balanced
    * flat-IVF law — a refinement of round 4's "cells ∝ corpus"
    * measurement, which was taken WITHOUT in-plan training: flat IVF
    * pays n×k for centroid assignment (every vector scores every
    * centroid) and n·probes·(n/k) for same-cell candidate scoring, so
    * a FIXED k leaves the pair space quadratic (155× at the 10× probe)
    * while k ∝ n makes the ASSIGNMENT quadratic instead (39× measured
    * at the 10× probe with k = n/32 and trained centroids). The two
    * balance at k ≈ √n: total work n^1.5 — the true complexity of
    * flat IVF, and why FAISS sizes nlist ≈ √n. Beyond that, the next
    * rung is hierarchical (two-level) assignment, not a bigger flat k.
    */
  def numCellsFor(n: Long): Int =
    math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Training-sample budget: Lloyd runs on ~[[KmSamplePerCell]]·k
    * deterministically-sampled vectors (`vec_id % step == 0`), not the
    * corpus — the standard k-means recipe (30-50 points per cluster
    * suffice to place centroids) that keeps the training passes
    * O(k²·[[KmSamplePerCell]]) while only the final assignment touches
    * all n vectors.
    */
  val KmSamplePerCell = 40

  /** Exact top-k neighbors for query vectors (vec_id < 5), excluding
    * self. Output omits raw cosines from the compare-sensitive columns?
    * No — cosine is included: both engines fold the dot product in array
    * order in double precision, so values are bit-identical.
    */
  /** Frame-parametric exact cosine top-k core: queries broadcast, the
    * corpus never shuffles; norms computed once per vector, not once
    * per pair (cosine = dot/(nq·nc) is the same double math as
    * cosineSim — the norm of a given vector is bit-identical wherever
    * it's computed — at a third of the flops). Shared by the gated
    * [[simTopkBrute]] and `graft.api.Corpus.cosineTopK`.
    *
    * `excludeSelfIds` drops pairs with `q_id == c_id` — correct when
    * the queries are drawn FROM the corpus (the gated query's shape);
    * pass `false` when corpus and queries are unrelated frames whose
    * ids merely collide.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelfIds: Boolean = true): DataFrame = {
    val q = queries.select(col(id).as("q_id"), col(vec).as("qv"),
      VectorExpressions.l2NormF(col(vec)).as("qn"))
    val c = corpus.select(col(id).as("c_id"), col(vec).as("cv"),
      VectorExpressions.l2NormF(col(vec)).as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    val joinCond =
      if (excludeSelfIds) col("q_id") =!= col("c_id") else lit(true)
    c.join(broadcast(q), joinCond)
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  def simTopkBrute(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    cosineTopK(e, e.filter(col("vec_id") < NumQueryVectors), TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // sim_mmr — maximal-marginal-relevance diversified rerank.
  // ---------------------------------------------------------------------

  val MmrK = 3          // diversified selections per query
  val MmrPoolK = TopK   // candidate pool size (the certified brute top-k)
  val MmrLambda = 0.5   // relevance vs diversity blend

  /** MMR rerank (Carbonell & Goldstein): from each query's top-`poolK`
    * candidate pool, greedily select `k` results maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected set` —
    * the diversity-aware retrieval step a training-data miner runs so
    * one dense duplicate cluster cannot fill a query's whole result
    * list. Empty-set penalty is 0, so selection 1 is the plain
    * relevance argmax; ties break on the lower candidate id in both
    * engines.
    *
    * Scale shape: the pool is `poolK` rows per query (from ANY
    * candidate source — the gate uses the certified brute top-k;
    * [[simMmrServed]] runs the SAME core over the persisted-IVF
    * shortlist, the serving-scale composition), so the
    * pairwise-similarity relation is ≤ |queries|·poolK² narrow rows
    * keyed by q_id, and each greedy round is one keyed aggregation
    * over ≤ poolK rows per query. Nothing corpus-sized enters the
    * rerank; the pool is localCheckpointed once so the k rounds reread
    * a materialized few-hundred-row relation instead of re-running the
    * candidate scan per round.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
      k: Int = MmrK, poolK: Int = MmrPoolK,
      lambda: Double = MmrLambda,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val cv = corpus.select(col(id).as("c_id"), col(vec).as("v"),
      VectorExpressions.l2NormF(col(vec)).as("n"))
    val pool = cosineTopK(corpus, queries, poolK, id, vec)
      .join(cv, "c_id")
      .select(col("q_id"), col("c_id"), col("cosine").as("rel"),
        col("v"), col("n"))
    mmrRerankFromPool(pool, k, lambda)
  }

  /** The pool-parametric MMR core: greedy diversified selection over a
    * PRE-BUILT candidate pool `(q_id, c_id, rel, v, n)` — the seam
    * that makes the rerank candidate-source-agnostic ([[mmrRerank]]
    * feeds it the brute top-k, [[simMmrServed]] the persisted-IVF
    * shortlist; a PQ shortlist plugs in the same way).
    *
    * The pool is localCheckpointed once; `selected` is ALSO
    * localCheckpointed per greedy round (a ≤ k·|queries|-row frame),
    * because each round references the previous selection three times
    * (penalty join, anti-join, union) — left symbolic, the logical
    * plan grows ~3^k and Catalyst analysis time explodes around
    * k ≈ 12 even though the data is tiny. Checkpointing keeps plan
    * depth constant, so any k the caller asks for plans in O(k) work.
    */
  private[graft] def mmrRerankFromPool(pool0: DataFrame, k: Int,
      lambda: Double): DataFrame = {
    val pool = pool0.localCheckpoint()
    val pairs = pool.as("a").join(pool.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.c_id") =!= col("b.c_id"))
      .select(col("a.q_id").as("q_id"), col("a.c_id").as("a_id"),
        col("b.c_id").as("b_id"),
        (VectorExpressions.dotF(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n"))).as("sim"))
    val base = pool.select(col("q_id"), col("c_id"), col("rel"))
    def argmax(scored: DataFrame, rank: Int): DataFrame =
      scored.groupBy(col("q_id"))
        .agg(max(struct(col("mmr_score"), (-col("c_id")).as("__neg"),
          col("c_id"), col("rel"))).as("k"))
        .select(col("q_id"), lit(rank).as("mmr_rank"),
          col("k.c_id").as("c_id"), col("k.rel").as("rel"),
          col("k.mmr_score").as("mmr_score"))
    var selected = argmax(base.select(col("q_id"), col("c_id"), col("rel"),
      (lit(lambda) * col("rel") - lit(1 - lambda) * lit(0.0))
        .as("mmr_score")), 1)
    for (t <- 2 to k) {
      // materialize rounds 1..t-1 so this round's three references
      // (penalty join, anti-join, union) share one tiny scan instead
      // of tripling the symbolic plan
      val selC = selected.localCheckpoint()
      val pen = pairs
        .join(selC.select(col("q_id"), col("c_id").as("b_id")),
          Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id").as("c_id"))
        .agg(max(col("sim")).as("pen"))
      val scored = base
        .join(selC.select(col("q_id"), col("c_id")),
          Seq("q_id", "c_id"), "left_anti")
        .join(pen, Seq("q_id", "c_id"))
        .select(col("q_id"), col("c_id"), col("rel"),
          (lit(lambda) * col("rel") - lit(1 - lambda) * col("pen"))
            .as("mmr_score"))
      selected = selC.unionByName(argmax(scored, t))
    }
    selected.select(col("q_id"), col("mmr_rank"), col("c_id"),
      col("rel").as("relevance"), col("mmr_score"))
  }

  def simMmr(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    mmrRerank(e, e.filter(col("vec_id") < NumQueryVectors))
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** MMR rerank over the SERVED pool — the production composition the
    * brute-pooled [[simMmr]] gate certifies the greedy rule for: the
    * candidate pool is the persisted-IVF shortlist ([[ivfServeTopK]],
    * the `sim_ivf` serve plan at k = [[MmrPoolK]]), so a rerank at
    * serving scale costs one probe-kernel pass over the queries plus
    * the pool-sized greedy rounds — the corpus enters only through the
    * pre-built inverted lists. Same core, same tie rules; the pool
    * differs from brute exactly where IVF recall does (unprobed-cell
    * misses), which the oracle mirrors by running the same IVF chain.
    */
  def simMmrServed(s: SparkSession, d: String): DataFrame = {
    val cv = embeddings(s, d).select(col("vec_id").as("c_id"),
      col("embedding").as("v"),
      VectorExpressions.l2NormF(col("embedding")).as("n"))
    val pool = ivfServeTopK(s, d, MmrPoolK)
      .join(cv, "c_id")
      .select(col("q_id"), col("c_id"), col("cosine").as("rel"),
        col("v"), col("n"))
    mmrRerankFromPool(pool, MmrK, MmrLambda)
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** DuckDB mirror of [[simMmr]]: the brute scored/ranked pool, the
    * in-pool pairwise cosines, and [[MmrK]] unrolled greedy stages —
    * each an `ORDER BY λ·rel − (1−λ)·pen DESC, c_id` window argmax,
    * with the penalty a MAX over the pairs to the selected-so-far
    * union. Float ops mirror the engine op-for-op (`0.5*rel − 0.5*pen`,
    * penalty 0.0 literal at stage 1).
    */
  /** The shared greedy-stage CTE chain of BOTH MMR oracles — from a
    * `scored (q_id, c_id, cosine)` CTE (whatever the candidate source)
    * through the pool cut, the in-pool pairwise cosines, and the
    * [[MmrK]] unrolled greedy argmax stages. [[simMmrSql]] feeds it the
    * brute scores, [[simMmrServedSql]] the IVF-served scores.
    */
  private val mmrTailSql: String = {
    val lam = MmrLambda
    val oneMinus = 1 - MmrLambda
    val stages = (2 to MmrK).map { t =>
      val selUnion = (1 until t).map(j => s"SELECT q_id, c_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""sel${t - 1} AS ($selUnion),
         |p$t AS (
         |  SELECT c.q_id, c.c_id, c.rel, MAX(p.sim) AS pen
         |  FROM cand c
         |  JOIN pairs p ON p.q_id = c.q_id AND p.a_id = c.c_id
         |  JOIN sel${t - 1} sl ON sl.q_id = p.q_id AND sl.c_id = p.b_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |                    WHERE x.q_id = c.q_id AND x.c_id = c.c_id)
         |  GROUP BY c.q_id, c.c_id, c.rel),
         |s$t AS (
         |  SELECT q_id, c_id, rel, mmr_score FROM (
         |    SELECT q_id, c_id, rel, $lam*rel - $oneMinus*pen AS mmr_score,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY $lam*rel - $oneMinus*pen DESC, c_id) AS rk
         |    FROM p$t) z
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(list_zip($a, $b), p -> p[1] * p[2])),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""cand AS (
       |  SELECT q_id, c_id, cosine AS rel FROM (
       |    SELECT q_id, c_id, cosine,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, c_id) AS rk
       |    FROM scored) z
       |  WHERE rk <= $MmrPoolK),
       |pairs AS (
       |  SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
       |    ${dot("ea.v", "eb.v")} / (ea.nrm * eb.nrm) AS sim
       |  FROM cand a
       |  JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id
       |  JOIN e ea ON ea.vec_id = a.c_id
       |  JOIN e eb ON eb.vec_id = b.c_id),
       |s1 AS (
       |  SELECT q_id, c_id, rel, mmr_score FROM (
       |    SELECT q_id, c_id, rel, $lam*rel - $oneMinus*0.0 AS mmr_score,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY $lam*rel - $oneMinus*0.0 DESC, c_id) AS rk
       |    FROM cand) z
       |  WHERE rk = 1),
       |$stages""".stripMargin
  }

  private val mmrOutSql: String =
    (1 to MmrK).map { t =>
      s"SELECT q_id, CAST($t AS INTEGER) AS mmr_rank, c_id, rel AS relevance, mmr_score FROM s$t"
    }.mkString("\nUNION ALL ") + "\nORDER BY q_id, mmr_rank"

  val simMmrSql: String = {
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(list_zip($a, $b), p -> p[1] * p[2])),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueryVectors),
       |$mmrTailSql
       |$mmrOutSql""".stripMargin
  }

  /** DuckDB mirror of [[simMmrServed]]: the [[simIvfSql]] candidate
    * chain (trained centroids, assignment, probing, candidate
    * re-scoring) cut at [[MmrPoolK]] as the pool, then the same
    * unrolled greedy stages as [[simMmrSql]].
    */
  // lazy: NumProbes is declared further down the object; a strict val
  // here would interpolate its uninitialized 0
  lazy val simMmrServedSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
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
       |           WHERE crank <= $NumProbes AND vec_id < $NumQueryVectors),
       |scored AS (
       |  SELECT p.q_id, a.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  JOIN e eq ON eq.vec_id = p.q_id
       |  JOIN e ec ON ec.vec_id = a.c_id
       |  WHERE p.q_id <> a.c_id),
       |$mmrTailSql
       |$mmrOutSql""".stripMargin

  val simTopkBruteSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])),
       |      (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueryVectors)
       |SELECT q_id, rank, c_id, cosine
       |FROM (SELECT q_id, c_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, c_id) AS INTEGER) AS rank
       |      FROM scored) t
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Random-hyperplane LSH (approximate path).
  // ---------------------------------------------------------------------

  val NumTables: Int = HyperplaneBuckets.NumTables // independent hash tables
  val PlanesPerTable: Int = HyperplaneBuckets.PlanesPerTable // 64 buckets/table
  val Dim: Int = HyperplaneBuckets.Dim

  /** Fixed pseudo-random hyperplanes (deterministic seed), NumTables ×
    * PlanesPerTable of them — owned by the codegen'd
    * [[HyperplaneBuckets]] expression, re-exported for the oracle SQL
    * and the spec. A tiny constant baked into the plan as literals —
    * never a data-dependent collect.
    */
  private[operators] val hyperplanes: Array[Array[Double]] =
    HyperplaneBuckets.hyperplanes

  /** Approximate top-k via multi-table random-hyperplane LSH: a vector
    * lands in one bucket per table; candidates are vectors sharing a
    * bucket with the query in ANY table (union improves recall; the
    * distinct pass dedupes). Only candidates are scored — at 100 TB the
    * corpus shuffles once on (table, bucket) and the quadratic space is
    * never formed. Recall vs the brute-force oracle is asserted in
    * SimilaritySpec; the hyperplanes are fixed literals, so the whole
    * pipeline is also SQL-expressible and oracle-checked (the DuckDB
    * mirror embeds the same plane values and folds each dot product in
    * the same element order — bit-identical buckets and cosines).
    */
  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    // all NumTables buckets in ONE codegen'd pass over the vector
    // (the per-plane HOF formulation was interpreted — 48 boxed
    // 64-element folds per row, the dominant cost of this query);
    // resolution scales with the corpus so candidates stay O(n)
    // (HyperplaneBuckets.resolutionBits — 6 at every gate scale)
    val bits = HyperplaneBuckets.resolutionBits(e.count())
    def withBuckets(df: DataFrame, idCol: String, vecCol: String,
        normCol: String) =
      df.select(col("vec_id").as(idCol), col("embedding").as(vecCol),
        VectorExpressions.l2NormF(col("embedding")).as(normCol),
        posexplode(
          HyperplaneBuckets.hyperplaneBuckets(col("embedding"), bits))
          .as(Seq("table", "bucket")))
    val q = withBuckets(e.filter(col("vec_id") < NumQueryVectors),
      "q_id", "qv", "qn")
    val c = withBuckets(e, "c_id", "cv", "cn")
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("qv"), col("cv"),
        col("qn"), col("cn"))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    cand
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Shared DuckDB CTE chain for the hyperplane-LSH pipeline (through
    * relations `e(vec_id, v, nrm)` and `buckets(vec_id, t, bucket)`):
    * hyperplanes as literal DOUBLE[] rows in a VALUES table, dot
    * products as the same left-to-right double fold Spark's kernels
    * perform — bit-identical buckets and cosines. Shared by
    * [[simAnnLshSql]] and the semantic-dedup oracle in [[Dedup2]].
    */
  private[graft] val bucketsCtesSql: String = {
    val H = HyperplaneBuckets
    // base planes (bits 0..5) then extension planes (bits 6..15) —
    // the same layout the codegen'd kernel reads; the pbits CTE is the
    // INTEGER form of HyperplaneBuckets.resolutionBits (a count of
    // corpus-size threshold crossings — no floating log, so both
    // engines derive the identical resolution), and the mask keeps
    // the low pbits bits exactly as the kernel's truncated loop does
    val planeRows = (0 until NumTables).flatMap { t =>
      (0 until H.MaxPlanesPerTable).map { p =>
        val arr =
          if (p < H.PlanesPerTable) H.hyperplanes(t * H.PlanesPerTable + p)
          else H.hyperplanesExt(
            t * H.ExtPlanesPerTable + (p - H.PlanesPerTable))
        s"($t, $p, ${arr.mkString("[", ", ", "]")}::DOUBLE[])"
      }
    }.mkString(",\n    ")
    s"""planes(t, p, pl) AS (VALUES
       |    $planeRows),
       |pbits AS (
       |  SELECT ${H.PlanesPerTable} + COUNT(*) AS p
       |  FROM (SELECT unnest(range(1, ${H.ExtPlanesPerTable + 1})) AS k)
       |  WHERE (SELECT COUNT(*) FROM embeddings) >=
       |    ${H.BaseCorpus} * (1::BIGINT << k)),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |dots AS (
       |  SELECT vec_id, t, p,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(v, pl), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) AS dot
       |  FROM e CROSS JOIN planes),
       |buckets AS (
       |  SELECT vec_id, t,
       |    CAST(SUM(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT)
       |      % (1::BIGINT << (SELECT p FROM pbits)) AS bucket
       |  FROM dots GROUP BY vec_id, t)""".stripMargin
  }

  /** DuckDB mirror of [[simAnnLsh]], on the shared [[bucketsCtesSql]]. */
  val simAnnLshSql: String = {
    s"""WITH $bucketsCtesSql,
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
       |  FROM buckets c JOIN buckets q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id < $NumQueryVectors AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT q_id, c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = c_id)
       |SELECT q_id, rank, c_id, cosine
       |FROM (SELECT q_id, c_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, c_id) AS INTEGER) AS rank
       |      FROM scored) t
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) ANN — the cell-probing scale path.
  // ---------------------------------------------------------------------

  val NumProbes = 2  // cells probed per query

  /** IVF-style approximate top-k: the corpus is partitioned into cells
    * by nearest centroid; a query scores only vectors in its `NumProbes`
    * nearest cells. Centroids are TRAINED — the distributed-Lloyd pass
    * of [[embKmeans]] run at `numCellsFor(corpus size)` cells — so both
    * halves of the scale story live in the gated plan: cell assignment
    * is a map-side broadcast join, cells are the partition key, a query
    * touches NumProbes/numCells of the corpus, and the cell count
    * tracks √n (the balanced flat-IVF law — see [[numCellsFor]]).
    */
  /** Trained centroid table for the gated IVF queries: corpus-derived
    * `⌈√n⌉` cell count (one `count()` scalar on the driver, like the
    * k-means seeds), [[KmIters]] Lloyd iterations over the
    * deterministic sample; stored as an artifact so the tiny (k × dim)
    * table trains ONCE instead of once per plan branch (assigned +
    * probes both reference it; at 100 TB the trained index is persisted
    * offline — this is that materialization).
    */
  private def ivfCentroids(e: DataFrame): DataFrame = {
    val n = e.count()
    trainedCentroids(e, numCellsFor(n), n)
  }

  /** The trained-index artifacts (IVF centroids and lists, PQ
    * codebooks and codes, k-means centroids). At 100 TB an ANN index is
    * trained offline ONCE and persisted; within a suite/bench run the
    * artifact store is that materialization — without it every gated
    * entry retrains the same deterministic index from scratch (`sim_pq`
    * + `sim_ivfpq` alone duplicated ~24 s of identical 8×256 Lloyd
    * training per pass). Training is deterministic (modulo sample +
    * rank seeds), so cache hits are result-identical to retraining.
    * Population and lifetime guards live in [[Artifacts]].
    */
  private[graft] val cachedIvfCentroids =
    Artifacts.declare("ivf")((s, d) => ivfCentroids(embeddings(s, d)))

  private val cachedPqCodebooks = Artifacts.declare("pq") { (s, d) =>
    val e = embeddings(s, d)
    pqIndex(e, e.count())
  }

  /** The encoded CODES table (`(c_id, sub, cell)`, [[PqM]] rows per
    * corpus vector) — the other half of a persisted PQ index. Encoding
    * is a linear one-off build pass (every vector argmaxes against the
    * broadcast codebooks once); serving must not re-pay it per query,
    * so the gated PQ entries read codes from here. ~n·M narrow rows:
    * the 1/64-of-corpus codes table the PQ design exists to produce.
    */
  /** Collected PQ codebook as flat kernel arrays: per-(sub,cell)
    * ascending order, `offsets(sub)..offsets(sub+1)` delimiting each
    * subspace's run, `halfCn2` precomputed with the exact
    * sqrt-then-square round-trip the declarative encode takes
    * (`0.5 · (l2norm_d(cv) · l2norm_d(cv))`).
    */
  private case class PqArrays(offsets: Array[Int], cellIds: Array[Int],
      codebook: Array[Double], halfCn2: Array[Double])

  private def collectPqArrays(cent: DataFrame): PqArrays = {
    val rows = cent.select(col("sub"), col("cell"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy { case (sub, cell, _) => (sub, cell) }
    val offsets = new Array[Int](PqM + 1)
    rows.foreach { case (sub, _, _) => offsets(sub + 1) += 1 }
    for (i <- 1 to PqM) offsets(i) += offsets(i - 1)
    val halfCn2 = rows.map { case (_, _, cv) =>
      var acc = 0.0
      cv.foreach(v => acc += v * v)
      val nrm = math.sqrt(acc)
      0.5 * (nrm * nrm)
    }
    PqArrays(offsets, rows.map(_._2), rows.flatMap(_._3), halfCn2)
  }

  /** Kernel-encode a corpus against collected codebooks: one map-side
    * pass, `(vec_id, sub, cell)` out — the build-path replacement for
    * `pqAssignAll(pqSubAll(...))`'s n×M×K scored rows (bit-identical,
    * pinned in SimilaritySpec).
    */
  private def pqKernelCodes(corpus: DataFrame, arrays: PqArrays,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    corpus.select(col(id).as("vec_id"), col(vec).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        posexplode(VectorExpressions.pqEncodeF(col("embedding"),
          arrays.offsets, arrays.cellIds, arrays.codebook, arrays.halfCn2,
          PqSubDim)).as(Seq("sub", "cell")))

  /** Encode a `(id, vec)` corpus under TRAINED codebooks via the
    * one-pass kernel — the build of [[cachedPqCodes]], bit-identical to
    * the declarative `pqAssignAll(pqSubAll(…))` encode (SimilaritySpec
    * pins the kernel/declarative agreement). Zero training: this is the
    * pass a persisted PQ index's build AND its incremental refresh run
    * — scan-bound, the codebooks frozen. The trained codebook (M×K tiny
    * rows) is collected and inlined into the native encode kernel: the
    * declarative encode materializes n×M×K scored rows (measured ~22
    * min at a 200k-vector corpus); the kernel scores the same cells in
    * place. halfCn2 replicates pqAssignAll's exact arithmetic —
    * 0.5·(l2norm_d(cv)·l2norm_d(cv)), the sqrt-then-square round-trip,
    * NOT 0.5·Σcv² — so codes are bit-identical to the declarative form.
    * Output `(c_id, sub, cell)`.
    */
  private[graft] def kernelEncodePq(corpus: DataFrame, cent: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    pqKernelCodes(
      corpus.select(col(id).as("vec_id"), col(vec).as("embedding")),
      collectPqArrays(cent))
      .select(col("vec_id").as("c_id"), col("sub"), col("cell"))

  private[operators] val cachedPqCodes = Artifacts.declare("pqcodes")(
    (s, d) => kernelEncodePq(embeddings(s, d), cachedPqCodebooks(s, d)))

  /** The corpus→cell coarse assignment (`(c_id, icell)`, one row per
    * vector) of the trained IVF index — the inverted-file lists
    * themselves, built once like the codes table.
    */
  private[operators] val cachedIvfAssignment =
    Artifacts.declare("ivfassign")((s, d) =>
      // the narrow (c_id, icell) projection of the inverted lists —
      // derived from the checkpointed [[cachedIvfLists]] so the build
      // runs the n×k assignment kernel ONCE for both artifacts (the
      // kernel is nearestCellF either way; values are bit-identical,
      // pinned in SimilaritySpec)
      cachedIvfLists(s, d).select(col("c_id"), col("cell").as("icell")))

  /** The IVF-FLAT inverted lists: one row per corpus vector — home
    * `cell`, the raw vector (`cv_c`), its norm (`cn_c`), and the
    * metadata filter key (`label`) — built with the same one-pass
    * kernel the per-query form ran, then `localCheckpoint`ed. This is
    * what a production IVF-Flat index persists (the inverted lists
    * STORE the vectors); serving joins a query's probe cells against
    * it and touches only candidate rows. Before this cache the gated
    * `sim_ivf`/`sim_filtered_knn` re-assigned the full corpus per
    * execution — an n×k kernel pass (measured 10–29 s per run at the
    * 100× probe corpus) paid at serve time for a build artifact.
    * Values are bit-identical to the inline assignment (same kernel,
    * same trained centroids), so the DuckDB mirrors are unchanged.
    */
  private[graft] val cachedIvfLists = Artifacts.declare("ivflists")((s, d) =>
    kernelProbeCells(embeddings(s, d), cachedIvfCentroids(s, d), 1,
      "c_id", "cv_c", "cn_c", carry = Seq("label")))

  /** Trained IVF centroid table collected into flat kernel arrays
    * (cell-id ascending — the order the kernels' strict comparisons
    * rely on for lowest-cell tie-breaks). ⌈√n⌉ × dim doubles: tiny,
    * rides as plan reference objects.
    */
  private[operators] case class IvfArrays(cellIds: Array[Int],
      cents: Array[Double], cnrms: Array[Double], dim: Int)

  private[operators] def collectIvfArrays(cent: DataFrame): IvfArrays = {
    val rows = cent.select(col("cell"), col("cv"), col("cnrm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    IvfArrays(rows.map(_._1), rows.flatMap(_._2), rows.map(_._3),
      rows.head._2.length)
  }

  /** Kernel form of [[cellRanks]]` + crank ≤ p`: the same per-vector
    * top-`p` probe list (or `p = 1` home-cell assignment), computed in
    * ONE map-side pass over the corpus instead of materializing n×k
    * scored rows through a broadcast cross join and shuffling them into
    * a per-vector rank window. Output columns: `(idCol, vecCol,
    * normCol, carry…, cell)` — one row per (vector, probed cell), cells
    * in rank order before the explode. Arithmetic and tie-breaks are
    * bit-identical to [[cellRanks]] (pinned in SimilaritySpec), so
    * every declarative DuckDB mirror is unchanged. At 100 TB this is
    * the difference between an n×√n-row shuffle per index pass and a
    * scan-bound map.
    */
  private[graft] def kernelProbeCells(df: DataFrame, cent: DataFrame,
      p: Int, idCol: String, vecCol: String, normCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val a = collectIvfArrays(cent)
    val carried = carry.map(col)
    val base = df.select(Seq(col("vec_id").as(idCol),
      col("embedding").as(vecCol),
      VectorExpressions.l2NormF(col("embedding")).as(normCol)) ++
      carried: _*)
    if (p == 1)
      base.withColumn("cell", VectorExpressions.nearestCellF(col(vecCol),
        a.cellIds, a.cents, a.cnrms, a.dim))
    else
      base.withColumn("cell", explode(VectorExpressions.probeCellsF(
        col(vecCol), a.cellIds, a.cents, a.cnrms, a.dim, p)))
  }

  /** Nearest-centroid ranking: each vector of `df` scored against every
    * (broadcast) centroid, `crank` = 1 for its home cell, ≤ NumProbes
    * for its probe list. Norms computed once per vector / per centroid,
    * not once per pair. Centroids are `(cell, cv: double[], cnrm)` (the
    * trained form); scoring runs the mixed-precision codegen'd kernel
    * ([[VectorExpressions.dotFD]] — each float promotes exactly, so the
    * fold equals the oracle's all-double fold bit-for-bit). `carry`
    * columns of `df` ride through untouched (e.g. a metadata filter
    * key). Shared by [[simIvf]], [[simKnnJoin]], and [[simFilteredKnn]].
    */
  private[operators] def cellRanks(df: DataFrame, cent: DataFrame, idCol: String,
      vecCol: String, normCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos_c").desc, col("cell"))
    val carried = carry.map(col)
    df.select(Seq(col("vec_id").as(idCol), col("embedding").as(vecCol),
      VectorExpressions.l2NormF(col("embedding")).as(normCol)) ++
      carried: _*)
      .crossJoin(broadcast(cent))
      .select(Seq(col(idCol), col(vecCol), col(normCol)) ++ carried ++ Seq(
        col("cell"),
        (VectorExpressions.dotFD(col(vecCol), col("cv")) /
          (col(normCol) * col("cnrm"))).as("cos_c")): _*)
      .withColumn("crank", row_number().over(w))
  }

  /** The ONE definition of serving the persisted IVF-Flat index for
    * the standard gate queries (`vec_id < NumQueryVectors`): probe the
    * cached centroids, join probe cells against the cached inverted
    * lists, exact-re-score candidates, per-query top-`k`. Shared by
    * [[simIvf]] (k = [[TopK]]) and [[simHybrid]]'s dense arm
    * (k = [[HybridArmK]]) so "the served index" means the same plan
    * everywhere.
    */
  private[operators] def ivfServeTopK(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val e = embeddings(s, d)
    val cent = cachedIvfCentroids(s, d)
    val assigned = cachedIvfLists(s, d)
    val probes = kernelProbeCells(
      e.filter(col("vec_id") < NumQueryVectors), cent,
      NumProbes, "q_id", "qv", "qn")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  def simIvf(s: SparkSession, d: String): DataFrame =
    ivfServeTopK(s, d, TopK).orderBy(col("q_id"), col("rank"))

  val simIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
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
       |           WHERE crank <= $NumProbes AND vec_id < $NumQueryVectors),
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
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // sim_ivf_upsert — incremental index maintenance (assign-only delta).
  // ---------------------------------------------------------------------

  /** The base/delta split for the upsert gate: the first 4/5 of the
    * corpus (by vec_id) is "yesterday's" indexed base, the last 1/5 is
    * the newly-arrived batch.
    */
  private[graft] def upsertThreshold(n: Long): Long = n * 4 / 5

  private def ivfBaseVecs(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    e.filter(col("vec_id") < upsertThreshold(e.count()))
  }

  /** Centroids trained ONLY on the base slice (the persisted index's
    * training set — the delta must not retrain), plus the base
    * inverted lists, both cached like every other index artifact.
    */
  private val ivfBaseCentroids =
    Artifacts.declare("ivfbase")((s, d) => ivfCentroids(ivfBaseVecs(s, d)))

  private val ivfBaseLists = Artifacts.declare("ivfbaselists")(
    (s, d) => kernelProbeCells(ivfBaseVecs(s, d), ivfBaseCentroids(s, d), 1,
      "c_id", "cv_c", "cn_c"))

  /** Incremental IVF maintenance: serve against an index whose base
    * lists were built (and whose centroids were trained) on the FIRST
    * 4/5 of the corpus, with the newest 1/5 UPSERTED by assignment
    * only — each new vector runs the one-pass nearest-cell kernel
    * against the frozen centroids and appends to its home list. No
    * retrain, no touch of the existing lists: the maintenance cost of
    * a day's delta is O(|delta|·√n) kernel work, independent of the
    * indexed corpus — the contract that makes an IVF index operable at
    * 100 TB, where rebuilding the lists per batch is off the table
    * (the re-BUILD alternative re-assigns all n vectors per delta).
    * Because assignment is per-vector, serve(base ∪ upserted delta) is
    * row-identical to serve(rebuilt-from-scratch lists under the same
    * centroids) — `SimilaritySpec` pins that equality, and the oracle
    * mirrors the full chain with base-trained centroids. What drifts
    * under pure upsert is only training-set coverage (centroids never
    * saw the delta) — the production cue for periodic retrains, which
    * this corpus's recall floor shows is not yet binding at 20%.
    *
    * Plan: the delta pass scans ONLY the new slice (`vec_id >=` the
    * threshold pushes to the parquet footer); serving is [[simIvf]]'s
    * shape over the unioned lists.
    */
  def simIvfUpsert(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val t = upsertThreshold(e.count())
    val cent = ivfBaseCentroids(s, d)
    val baseLists = ivfBaseLists(s, d)
    val delta = kernelProbeCells(e.filter(col("vec_id") >= t), cent, 1,
      "c_id", "cv_c", "cn_c")
    val lists = baseLists.union(delta)
    val probes = kernelProbeCells(
      e.filter(col("vec_id") < NumQueryVectors), cent,
      NumProbes, "q_id", "qv", "qn")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    lists.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val simIvfUpsertSql: String = {
    val baseRel =
      "(SELECT * FROM embeddings WHERE vec_id < (SELECT COUNT(*) * 4 // 5 FROM embeddings))"
    s"""WITH eall AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |e AS (SELECT * FROM eall
       |      WHERE vec_id < (SELECT COUNT(*) * 4 // 5 FROM embeddings)),
       |${trainedCentCtesSqlFrom(baseRel)},
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
       |           WHERE crank <= $NumProbes AND vec_id < $NumQueryVectors),
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
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_assign2 — hierarchical (two-level) assignment certification.
  // ---------------------------------------------------------------------

  /** Two-level IVF assignment, certified against flat assignment row
    * by row — the "next rung" SCALING.md names for index BUILDS past
    * flat IVF's n×√n assignment term: at 10⁹ vectors flat assignment
    * scores k₁ = ⌈√n⌉ ≈ 31 623 centroids per vector, while routing
    * through k₂ = ⌈√k₁⌉ coarse cells first scores k₂ + (k₁/k₂ on
    * average) ≈ 2·n^(1/4) ≈ 356 — a ~90× build-cost cut. The price is
    * approximation: a vector lands on the true nearest centroid only
    * if that centroid's coarse group is the vector's nearest coarse
    * cell, so this query emits `(vec_id, cell_flat, cell2, agree)` for
    * EVERY vector — the agreement relation is the certification
    * artifact (serving recall is insulated by multi-cell probing; a
    * mis-assigned vector sits in an adjacent list the probe set still
    * covers).
    *
    * Determinism: the coarse level is the `cell % ⌈√k₁⌉ == 0` subset
    * of the trained centroids (no second Lloyd run to mirror);
    * centroid→coarse grouping is a k₁×k₂ argmax over an exact
    * left-fold double dot (both engines fold in element order);
    * per-vector coarse routing runs the same one-pass kernel as every
    * other assignment. Ties break to the lowest cell everywhere.
    *
    * Plan: groups and coarse arrays are tiny and broadcast; the
    * corpus is touched by two map-side passes (coarse kernel + the
    * ≤(k₁/k₂)-candidate scored join) and one rank window per vector
    * over those candidates.
    */
  /** Coarse cells probed per vector during two-level routing: one is
    * the textbook form; two recovers most of the flat agreement on
    * weakly-clustered data (a vector near a coarse boundary sees both
    * groups) at 2·k₁/k₂ candidates — still ~n^(1/4)-ish per vector.
    */
  val CoarseProbes = 2

  def embAssign2(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cent = cachedIvfCentroids(s, d)
    val flat = cachedIvfAssignment(s, d)
    val k1 = cent.count()
    val step2 = math.max(1L, math.ceil(math.sqrt(k1.toDouble)).toLong)
    val coarse = cent.filter(col("cell") % step2 === 0)
    val dotDD = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val gw = Window.partitionBy(col("cell"))
      .orderBy(col("gcos").desc, col("ccell"))
    val groups = cent.crossJoin(broadcast(coarse
        .select(col("cell").as("ccell"), col("cv").as("ccv"),
          col("cnrm").as("ccnrm"))))
      .select(col("cell"), col("cv"), col("cnrm"), col("ccell"),
        (dotDD(col("cv"), col("ccv")) /
          (col("cnrm") * col("ccnrm"))).as("gcos"))
      .withColumn("gr", row_number().over(gw)).filter(col("gr") === 1)
      .select(col("ccell"), col("cell"), col("cv"), col("cnrm"))
    val ca = collectIvfArrays(coarse)
    val base = e.select(col("vec_id"), col("embedding"),
      VectorExpressions.l2NormF(col("embedding")).as("vn"))
      .withColumn("ccell", explode(VectorExpressions.probeCellsF(
        col("embedding"), ca.cellIds, ca.cents, ca.cnrms, ca.dim,
        CoarseProbes)))
    val w2 = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos2").desc, col("cell"))
    val two = base.join(broadcast(groups), Seq("ccell"))
      .select(col("vec_id"), col("cell"),
        (VectorExpressions.dotFD(col("embedding"), col("cv")) /
          (col("vn") * col("cnrm"))).as("cos2"))
      .withColumn("r2", row_number().over(w2)).filter(col("r2") === 1)
      .select(col("vec_id"), col("cell").as("cell2"))
    flat.select(col("c_id").as("vec_id"), col("icell").as("cell_flat"))
      .join(two, "vec_id")
      .select(col("vec_id"), col("cell_flat"), col("cell2"),
        (col("cell_flat") === col("cell2")).as("agree"))
      .orderBy(col("vec_id"))
  }

  val embAssign2Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    ${kmNormSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
       |k2par AS (
       |  SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS step2
       |  FROM cent),
       |coarse AS (
       |  SELECT cell AS ccell, cv AS ccv, cnrm AS ccnrm FROM cent
       |  WHERE cell % (SELECT step2 FROM k2par) = 0),
       |grp AS (
       |  SELECT ccell, cell, cv, cnrm FROM (
       |    SELECT c.cell, c.cv, c.cnrm, o.ccell,
       |      ${kmDotSql("c.cv", "o.ccv")} / (c.cnrm * o.ccnrm) AS gcos
       |    FROM cent c CROSS JOIN coarse o) z
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cell
       |    ORDER BY gcos DESC, ccell) = 1),
       |vb AS (
       |  SELECT vec_id, v, nrm, ccell FROM (
       |    SELECT e.vec_id, e.v, e.nrm, o.ccell,
       |      ${kmDotSql("e.v", "o.ccv")} / (e.nrm * o.ccnrm) AS ccos
       |    FROM e CROSS JOIN coarse o) z
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, ccell) <= $CoarseProbes),
       |two AS (
       |  SELECT vec_id, cell AS cell2 FROM (
       |    SELECT vb.vec_id, g.cell,
       |      ${kmDotSql("vb.v", "g.cv")} / (vb.nrm * g.cnrm) AS cos2
       |    FROM vb JOIN grp g USING (ccell)) z
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos2 DESC, cell) = 1),
       |flat AS (
       |  SELECT vec_id, cell AS cell_flat FROM (
       |    SELECT e.vec_id, cent.cell,
       |      ${kmDotSql("e.v", "cent.cv")} / (e.nrm * cent.cnrm) AS cosf
       |    FROM e CROSS JOIN cent) z
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cosf DESC, cell) = 1)
       |SELECT f.vec_id, f.cell_flat, t.cell2, f.cell_flat = t.cell2 AS agree
       |FROM flat f JOIN two t USING (vec_id)
       |ORDER BY f.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // kNN self-join — every vector's neighbor list (the all-pairs form).
  // ---------------------------------------------------------------------

  val KnnK = 5

  /** kNN self-join: EVERY corpus vector's top-[[KnnK]] neighbors — the
    * all-pairs shape behind embedding-dedup graphs and retrieval
    * training sets, where the "query set" is the corpus itself and
    * broadcasting it ([[simTopkBrute]]) is no longer an option. IVF
    * cell probing bounds the work: vectors are assigned to their home
    * cell, each probes its [[NumProbes]] nearest cells, and only
    * same-cell pairs are scored — a SHUFFLE join on the cell key (both
    * sides are corpus-sized; nothing is broadcast), touching
    * NumProbes/numCells of the quadratic pair space. The centroid count
    * DERIVES from the corpus (`numCellsFor` = ⌈√n⌉ — the 10× probe
    * MEASURED both failure modes this balances: fixed 16 cells → 155×
    * (quadratic same-cell pairs), cells ∝ n with in-plan training →
    * 39× (quadratic n×k assignment); see SCALING.md), centroids are
    * kmeans-TRAINED on the deterministic sample, AQE splits any hot
    * cell, and the per-vector top-k is a rank window inside each
    * cell-pair partition — never a global sort.
    * Like [[simIvf]], approximate by construction (a true neighbor in
    * an unprobed cell is missed); recall vs the brute-force oracle is
    * asserted in SimilaritySpec, and the pipeline is deterministic, so
    * the DuckDB mirror reproduces it exactly.
    */
  /** Frame-parametric kNN-join core: neighbor lists for a `(vec_id,
    * embedding)` corpus against a given `(cell, cv, cnrm)` centroid
    * table — the ONE definition of the probe/assign/score pipeline,
    * shared by the gated [[simKnnJoin]] and `graft.api.Corpus.knnJoin`.
    */
  def knnJoinWithCentroids(corpus: DataFrame, cent: DataFrame,
      k: Int, numProbes: Int = NumProbes): DataFrame = {
    val assigned = kernelProbeCells(corpus, cent, 1, "c_id", "cv_c", "cn_c")
    val probes = kernelProbeCells(corpus, cent, numProbes, "q_id", "qv", "qn")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    assigned.join(probes, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  def simKnnJoin(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    knnJoinWithCentroids(e, cachedIvfCentroids(s, d), KnnK)
  }

  /** Frame-parametric cross-corpus ANN join: top-`k` `corpus` rows for
    * every `queries` vector through a flat-IVF index trained on the
    * CORPUS side (the side being indexed) — the asymmetric sibling of
    * [[knnJoinWithCentroids]] for query/corpus frames from DIFFERENT
    * populations (cross-modal pair mining, probe-batch-vs-lake joins).
    * Ids are assumed disjoint across frames, so no self-exclusion; both
    * frames are `(vec_id, embedding)`-shaped. The cell join is keyed
    * and unbroadcast (both sides can grow). Approximate by
    * construction: a true neighbor in an unprobed cell is missed.
    */
  def annJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      numProbes: Int = NumProbes): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"))
    val n = c.count()
    val cent = trainedCentroids(c, numCellsFor(n), n).localCheckpoint()
    val assigned = kernelProbeCells(c, cent, 1, "c_id", "cv_c", "cn_c")
    annServeWith(cent, assigned, queries, k, numProbes)
  }

  /** Serve top-`k` ANN against a PRE-BUILT flat-IVF index (`cent` =
    * trained centroids, `assigned` = the inverted lists as
    * [[kernelProbeCells]] emits them) — the serve half of [[annJoin]],
    * split out so an index built (or persisted) once can answer many
    * query batches without retraining; the probe cost is
    * O(|queries|·√n) kernel work plus the candidate cell join,
    * independent of corpus size given the index.
    * `excludeSelf` drops `q_id == c_id` pairs before ranking — set it
    * when the queries are drawn from the indexed corpus (the
    * [[ivfServeTopK]] gate posture); leave it off for disjoint-id
    * frames (cross-modal mining).
    */
  private[graft] def annServeWith(cent: DataFrame, assigned: DataFrame,
      queries: DataFrame, k: Int, numProbes: Int = NumProbes,
      excludeSelf: Boolean = false): DataFrame = {
    val probes = kernelProbeCells(
      queries.select(col("vec_id"), col("embedding")), cent, numProbes,
      "q_id", "qv", "qn")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    val cand = assigned.join(probes, Seq("cell"))
    (if (excludeSelf) cand.filter(col("q_id") =!= col("c_id")) else cand)
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  /** Metadata-FILTERED ANN: top-k neighbors restricted to corpus
    * vectors sharing the query's `label` — the filtered-search shape
    * every production vector index needs (RAG over one tenant/language,
    * same-class dedup). Post-filtering an unfiltered ANN result
    * under-fills k whenever the filter is selective; instead the index
    * is PRE-PARTITIONED by the filter key — the join key is (label,
    * cell), so a query only ever meets same-label candidates and k
    * fills from the filtered set directly. At 100 TB the (label, cell)
    * key is also what bounds skew: a dominant label still splits
    * across its cells, and AQE splits any hot (label, cell) pair.
    */
  def simFilteredKnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cent = cachedIvfCentroids(s, d)
    val assigned = cachedIvfLists(s, d)
    val probes = kernelProbeCells(
      e.filter(col("vec_id") < NumQueryVectors), cent,
      NumProbes, "q_id", "qv", "qn", carry = Seq("label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    assigned.join(broadcast(probes), Seq("label", "cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("label"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("q_id"), col("label"), col("rank"), col("c_id"),
        col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val simFilteredKnnSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
       |ranks AS (
       |  SELECT e.vec_id, e.label, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, label, cell FROM ranks WHERE crank = 1),
       |probes AS (SELECT vec_id AS q_id, label, cell FROM ranks
       |           WHERE crank <= $NumProbes AND vec_id < $NumQueryVectors),
       |scored AS (
       |  SELECT p.q_id, p.label, a.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.label = p.label AND a.cell = p.cell
       |  JOIN e eq ON eq.vec_id = p.q_id
       |  JOIN e ec ON ec.vec_id = a.c_id
       |  WHERE p.q_id <> a.c_id)
       |SELECT q_id, label, rank, c_id, cosine
       |FROM (SELECT q_id, label, c_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, c_id) AS INTEGER) AS rank
       |      FROM scored) t
       |WHERE rank <= $KnnK
       |ORDER BY q_id, rank""".stripMargin

  val simKnnJoinSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
       |ranks AS (
       |  SELECT e.vec_id, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, cell FROM ranks WHERE crank = 1),
       |probes AS (SELECT vec_id AS q_id, cell FROM ranks WHERE crank <= $NumProbes),
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
       |WHERE rank <= $KnnK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Distributed k-means (Lloyd) — the centroid-training pass the gated
  // IVF queries run (via trainedCentroids) and emb_kmeans gates
  // directly at KmK cells.
  // ---------------------------------------------------------------------

  /** One spherical-k-means assignment: each vector to its max-cosine
    * centroid (ties → lower cell id). Centroids broadcast — the corpus
    * never shuffles during assignment. Scoring runs in the codegen'd
    * mixed-precision kernel ([[VectorExpressions.dotFD]]: float corpus
    * row × double centroid — each float promotes exactly, so the fold
    * equals the all-double HOF/DuckDB fold bit-for-bit).
    */
  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val c = cent.select(col("cell"), col("cv"),
      VectorExpressions.l2NormD(col("cv")).as("cnrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cell"))
    e.crossJoin(broadcast(c))
      .withColumn("cos_c",
        VectorExpressions.dotFD(col("embedding"), col("cv")) /
          (col("nrm") * col("cnrm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        col("cos_c"))
  }

  /** One Lloyd centroid update with ORDER-INSENSITIVE means: per-dim
    * sums as exact floor-quantized scale-12 limb sums
    * ([[graft.functions.fsumN]] — a double sum over an arbitrary
    * partition order would differ from DuckDB's sequential fold in the
    * last ulp and cascade through later assignments, and at scale 12
    * even the decimal-CAST rounding diverges between engines), then ONE
    * division per (cell, dim). posexplode → groupBy(cell, dim) has
    * map-side partials, so the shuffle carries K×dim rows per
    * partition, not n×dim. A cell that loses all members simply drops
    * out (classic Lloyd) — deterministic in both engines.
    *
    * CELL-SIZE BOUND (oracle-parity only): `fsumNSql`'s mirror sums
    * scale-12-quantized BIGINT limbs, exact while a (cell, dim) sum of
    * unit-magnitude values stays under 2^53 — roughly 9×10³ members
    * per cell. Spark's own limb sum is exact far beyond that; only the
    * DuckDB mirror diverges past the bound. The gated corpora sit 2-3
    * orders below it (√n-sized cells are ~22-45 members at gate
    * scales); for a 100 TB training pass there is no DuckDB mirror to
    * match — only determinism matters, which the limb sum provides at
    * any size.
    */
  private def kmUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg((fsumN(col("x").cast(DoubleType), 12) / count(lit(1))).as("m"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("cv"))

  /** Lloyd-train a centroid table over `(vec_id, embedding)` from an
    * explicit `(cell, cv: double[])` seed: `iters` assignment+update
    * rounds, output `(cell, cv, cnrm)` ready for [[cellRanks]] /
    * [[knnJoinWithCentroids]]. Each round is one broadcast assignment
    * pass + one partial-aggregated (cell, dim) shuffle.
    */
  def trainCentroids(corpus: DataFrame, seed: DataFrame,
      iters: Int = KmIters): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"),
      VectorExpressions.l2NormF(col("embedding")).as("nrm"))
    var cent = seed
    for (_ <- 1 to iters) cent = kmUpdate(kmAssign(e, cent))
    cent.select(col("cell"), col("cv"),
      VectorExpressions.l2NormD(col("cv")).as("cnrm"))
  }

  /** [[trainCentroids]] with the deterministic sampling + rank-based
    * seeding the gated queries (and their oracles) use: Lloyd trains on
    * the `vec_id % step == 0` sample (`step` sized so the sample is
    * ~[[KmSamplePerCell]]·k vectors — at small n, step = 1 and the
    * sample IS the corpus), seeded from the sample's first k members
    * BY RANK (`row_number` over vec_id order), not an id-magnitude
    * cutoff: with sparse ids (e.g. a min-id-per-fingerprint dedup
    * survivor corpus, the `pipe_pairs` case) `vec_id < k·step` seeds
    * FEWER than k centroids, quietly under-sizing the index below the
    * ⌈√n⌉ cells the balanced-IVF law promises. The rank window is
    * global but runs over the BOUNDED sample (~[[KmSamplePerCell]]·k
    * rows by construction), never the corpus; for dense multiple-of-
    * step ids the two seedings coincide exactly.
    */
  /** Test hook: Lloyd training passes started ON THIS THREAD. The
    * serve-posture specs assert a call served from a pre-built index
    * leaves this UNCHANGED — the deterministic form of
    * "second call is cheap" (wall-clock comparisons flake; a training
    * pass either ran or it didn't). Thread-local so a concurrent
    * suite's cache build can never trip another test's pin: training
    * runs synchronously on the plan-constructing thread, which in a
    * spec is the test's own thread.
    */
  private[graft] object trainingPasses extends ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
    def increment(): Unit = set(get() + 1L)
  }

  def trainedCentroids(corpus: DataFrame, k: Int, n: Long,
      iters: Int = KmIters): DataFrame = {
    trainingPasses.increment()
    val step = math.max(1L, n / (KmSamplePerCell.toLong * k))
    // materialize the ~KmSamplePerCell·k-row sample once: every Lloyd
    // round otherwise re-scans the FULL corpus to re-derive it (the
    // modulo predicate can't push to the parquet footer), turning a
    // constant-size training pass linear in the corpus per round
    val sample = corpus.filter(col("vec_id") % step === 0).localCheckpoint()
    // BOUNDED GLOBAL WINDOW: ranks only the materialized training
    // sample (<= KmSamplePerCell*k rows by the step construction),
    // never the corpus — the single-partition sort is model-sized
    val seedW = Window.orderBy(col("vec_id"))
    val seed = sample
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= k)
      .select((col("rn") - 1).cast("int").as("cell"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("cv"))
    trainCentroids(sample, seed, iters)
  }

  /** K-means over the embeddings: [[KmIters]] unrolled Lloyd
    * iterations from the deterministic first-[[KmK]] seed, final
    * assignment reported per vector with its cosine to the trained
    * centroid. Each iteration costs one broadcast assignment pass +
    * one partial-aggregated (cell, dim) shuffle; nothing quadratic,
    * nothing driver-side. At 100 TB the training pass runs on a hash
    * sample (`q38_hash_sample`'s deterministic bucket) and only the
    * final assignment touches the full corpus — the structure is
    * identical.
    */
  def embKmeans(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        VectorExpressions.l2NormF(col("embedding")).as("nrm"))
    kmAssign(e, cachedKmCentroids(s, d))
      .select(col("vec_id"), col("cell"), col("cos_c").as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** The trained [[KmK]]-cell centroid table of [[embKmeans]]'s Lloyd
    * loop, session-cached per (session, corpus) — the same train-once/
    * serve-many posture as [[cachedIvfCentroids]]: the [[KmIters]]
    * assignment+update rounds are MODEL TRAINING (a ~KmK-row artifact a
    * production pipeline persists next to its IVF index), and before
    * this memo every execution of the gated query re-ran them — ~2·
    * iters sequential corpus stages per run for a centroid table that
    * is a pure deterministic function of the corpus. The serve path
    * pays exactly the one pass that must touch every vector: the final
    * assignment. The build is the public [[trainCentroids]] from the
    * first-KmK-vector seed; training is deterministic (order-insensitive
    * quantized means), so the DuckDB mirror's Lloyd chain matches it.
    */
  private val cachedKmCentroids = Artifacts.declare("kmcent") { (s, d) =>
    val e = embeddings(s, d)
    trainCentroids(e, e.filter(col("vec_id") < KmK)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("cv")))
  }

  // Shared DuckDB builders for the Lloyd chain — the same left-fold
  // cosine, exact decimal means, and tie-breaks as the Spark kernels,
  // so every intermediate double is bit-identical. Reused by
  // [[embKmeansSql]] and the trained-centroid IVF oracles. (defs, not
  // vals: eager oracle vals call them during object init.)
  private def kmFoldSql = "(acc, x) -> acc + x"
  private def kmDotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip($a, $b), pr -> pr[1] * pr[2])), $kmFoldSql)""".stripMargin
  private def kmNormSql(a: String) =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform($a, x -> x * x)), $kmFoldSql))""".stripMargin
  private def kmAssignSql(cent: String, out: String, src: String = "e") =
    s"""$out AS (
       |  SELECT vec_id, v, nrm, cell, cos_c FROM (
       |    SELECT e.vec_id, e.v, e.nrm, c.cell,
       |      ${kmDotSql("e.v", "c.cv")} / (e.nrm * ${kmNormSql("c.cv")}) AS cos_c
       |    FROM $src e CROSS JOIN $cent c) z
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos_c DESC, cell) = 1)""".stripMargin
  private def kmUpdateSql(assigned: String, out: String) =
    s"""$out AS (
       |  SELECT cell, list(m ORDER BY dim) AS cv FROM (
       |    SELECT cell, dim, ${fsumNSql("x", 12)} / COUNT(*) AS m
       |    FROM (SELECT cell, unnest(range(1, len(v) + 1)) AS dim,
       |            unnest(v) AS x FROM $assigned) u
       |    GROUP BY cell, dim) g
       |  GROUP BY cell)""".stripMargin

  /** CTE chain training the IVF centroids in DuckDB, mirroring
    * [[trainedCentroids]] at `⌈√n⌉` cells over the `vec_id % step == 0`
    * sample: expects a CTE `e(vec_id, v, nrm, ...)` in scope, yields
    * `cent(cell, cv, cnrm)`. Cell count and sampling step derive from
    * the same `COUNT(*)` the Spark side reads, so both engines train
    * the same index.
    */
  private def trainedCentCtesSql: String = trainedCentCtesSqlFrom("embeddings")

  /** [[trainedCentCtesSql]] with the corpus-count source parameterized —
    * pass the name of the (possibly filtered) relation whose row count
    * sizes `k` and the sampling step; the trained chain itself always
    * reads the in-scope CTE `e`. Used by `pipe_pairs`, whose index is
    * trained over the QA-filtered corpus, not the raw table.
    */
  private[operators] def trainedCentCtesSqlFrom(countFrom: String): String = {
    val iters = (1 to KmIters).map { i =>
      val prev = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${kmAssignSql(prev, s"a$i", "es")},\n${kmUpdateSql(s"a$i", s"cent$i")}"
    }.mkString(",\n")
    s"""kparam AS (
       |  SELECT k, GREATEST(1, n // ($KmSamplePerCell * k)) AS step FROM (
       |    SELECT COUNT(*) AS n,
       |      GREATEST(2, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS k
       |    FROM $countFrom) z),
       |es AS (SELECT * FROM e
       |       WHERE vec_id % (SELECT step FROM kparam) = 0),
       |cent0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    v AS cv
       |  FROM es
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kparam)),
       |$iters,
       |cent AS (SELECT cell, cv, ${kmNormSql("cv")} AS cnrm FROM cent$KmIters)""".stripMargin
  }

  /** DuckDB mirror: the same [[KmIters]] iterations unrolled as CTEs on
    * the shared builders above.
    */
  val embKmeansSql: String = {
    val iters = (1 to KmIters).map { i =>
      val prev = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${kmAssignSql(prev, s"a$i")},\n${kmUpdateSql(s"a$i", s"cent$i")}"
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    ${kmNormSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv
       |          FROM e WHERE vec_id < $KmK),
       |$iters,
       |${kmAssignSql(s"cent$KmIters", "final_a")}
       |SELECT vec_id, cell, cos_c AS cosine
       |FROM final_a
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // int8 embedding quantization (the 4× index-shrink pass).
  // ---------------------------------------------------------------------

  /** Symmetric per-vector int8 quantization: scale = 127 / max|x_i|,
    * q_i = floor(x_i·scale + 0.5) ∈ [-127, 127] — the compression an
    * ANN index applies before sharding 100 TB of vectors (4× smaller,
    * SIMD-friendly int8 dot products at query time). Map-side only.
    * Rounding is floor(x+0.5) (half-up) rather than `round`, because
    * the two engines disagree on banker's-vs-away rounding but agree
    * bit-for-bit on floor. The quantized vector is serialized to a CSV
    * string: raw array output would crash the driver's comparator, and
    * float→double→quantize arithmetic is identical in both engines so
    * the strings match exactly.
    *
    * Runs as the native one-pass [[graft.functions.QuantizeI8F]]
    * kernel (struct return: absmax scanned once per row, scale/q8 null
    * for zero vectors with no caller-side guard): the HOF formulation
    * (`transform` with the absmax subterm inside the lambda) is
    * interpreted AND re-evaluates absmax per element — measured 11.5s
    * for 20k vectors vs 0.4s native, identical output.
    */
  /** Frame-parametric core: append `absmax`, `scale`, `q8` for a
    * float-vector column. Shared by the gated [[embQuantize]] and
    * `graft.api.Corpus.quantizedI8` — the ONE definition of the
    * quantization columns.
    */
  def quantized(df: DataFrame, vec: String = "embedding"): DataFrame = {
    val st = VectorExpressions.quantizeI8F(col(vec))
    df.withColumn("absmax", st.getField("absmax"))
      .withColumn("scale", st.getField("scale"))
      .withColumn("q8", st.getField("q8"))
  }

  def embQuantize(s: SparkSession, d: String): DataFrame =
    quantized(embeddings(s, d))
      .select(col("vec_id"), col("absmax"), col("scale"), col("q8"))
      .orderBy(col("vec_id"))

  val embQuantizeSql: String =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
      |  FROM embeddings)
      |SELECT vec_id, absmax,
      |  CASE WHEN absmax > 0 THEN CAST(127.0 AS DOUBLE) / absmax END AS scale,
      |  CASE WHEN absmax > 0 THEN array_to_string(
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * (CAST(127.0 AS DOUBLE) / absmax) + 0.5) AS INTEGER)),
      |    ',') END AS q8
      |FROM m
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // emb_outliers — embedding-quality outliers by home-centroid cosine.
  // ---------------------------------------------------------------------

  /** Per-cell fence percentile: the lowest-cosine tenth of each cell. */
  val OutlierP = 0.1

  /** Embedding-quality outlier detection: vectors whose cosine to
    * their OWN home centroid falls below their cell's exact p10 fence
    * — the embedding-space analog of `ta_length_tails`' per-domain
    * trim, and the standard pre-SemDeDup QA pass (encoder failures,
    * truncated inputs, and off-distribution content all land far from
    * every centroid; a GLOBAL fence would over-trim naturally diffuse
    * cells and under-trim tight ones, hence per-cell).
    *
    * Plan shape: the home-cell cosine joins the persisted inverted
    * lists ([[cachedIvfLists]]) against the broadcast trained
    * centroids — one map-side pass, the cosine bit-identical to the
    * assignment kernel's (same mixed-precision fold, same cnrm). The
    * fence is [[Percentiles.exact]] per cell (~√n groups; at 100 TB
    * group sizes switch to [[Percentiles.exactSelect]], same
    * answers), broadcast back. Only the flagged tail is emitted.
    */
  def embOutliers(s: SparkSession, d: String): DataFrame = {
    val cent = cachedIvfCentroids(s, d)
    val scored = cachedIvfLists(s, d)
      .join(broadcast(cent), "cell")
      .select(col("c_id").as("vec_id"), col("cell"),
        (VectorExpressions.dotFD(col("cv_c"), col("cv")) /
          (col("cn_c") * col("cnrm"))).as("cos_home"))
    val fences = Percentiles.exact(scored, "cell", "cos_home",
      Seq(("p10", OutlierP)))
    scored.join(broadcast(fences), "cell")
      .filter(col("cos_home") < col("p10"))
      .select(col("vec_id"), col("cell"), col("cos_home"), col("p10"))
      .orderBy(col("vec_id"))
  }

  val embOutliersSql: String = {
    val dot = """list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
       |scoredc AS (
       |  SELECT e.vec_id, cent.cell,
       |    $dot / (e.nrm * cent.cnrm) AS cos_home,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY $dot / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |home AS (SELECT vec_id, cell, cos_home FROM scoredc WHERE crank = 1),
       |fences AS (
       |${Percentiles.exactSql("home", "cell", "cos_home", Seq(("p10", OutlierP)))})
       |SELECT h.vec_id, h.cell, h.cos_home, f.p10
       |FROM home h JOIN fences f USING (cell)
       |WHERE h.cos_home < f.p10
       |ORDER BY h.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the memory-bound 100 TB ANN arm.
  // ---------------------------------------------------------------------

  val PqM = 8         // subspaces (64-dim vector → 8 × 8-dim slices)
  /** Codes per subspace → 8 × 8 bits = 8-byte codes (FAISS's standard
    * PQ8 operating point). Round 5 ran 4-bit codebooks (PqK = 16) and
    * measured recall@10 erode 0.94 (sf0.01) → 0.48 (sf0.1) against a
    * 0.4 floor — a margin trending to zero with corpus size. 8-bit
    * codebooks quarter the per-subspace quantization error (16× the
    * cells over the same 8-dim slice) at 2× the code bytes — still
    * 32× smaller than the raw vector.
    */
  val PqK = 256
  val PqSubDim = 8    // Dim / PqM

  /** ADC shortlist size: the exact-rerank pool per query (FAISS's
    * "refine" stage). Recall@k of refined PQ = the chance a true
    * neighbor makes the shortlist, far better than raw-ADC ordering.
    * 20× over-fetch (round 5 ran 10×): the shortlist only sizes the
    * exact-refine join — nQueries × shortlist rows — so widening it is
    * the cheap recall lever next to PqK.
    */
  val PqShortlist = 20 * TopK

  /** One L2 (not spherical) assignment pass for ALL subspace
    * codebooks at once: argmin ‖x − c‖² ≡ argmax (x·c − ‖c‖²/2) per
    * (vec_id, sub), evaluated in the codegen'd mixed-precision dot
    * kernel; ties → lower cell. PQ approximates the RECONSTRUCTION
    * x̂ = concat(centroids), so assignment must minimize reconstruction
    * error — cosine assignment ([[kmAssign]]) would discard the
    * sub-vector magnitudes the ADC dot product needs. The codebook
    * table ([[PqM]]×[[PqK]] rows) broadcasts on `sub`; every subspace
    * trains/encodes in ONE plan, not [[PqM]] sequential jobs.
    */
  private[operators] def pqAssignAll(subAll: DataFrame, cent: DataFrame): DataFrame = {
    val c = broadcast(cent.select(col("sub"), col("cell"), col("cv"),
      VectorExpressions.l2NormD(col("cv")).as("cnrm")))
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("sc").desc, col("cell"))
    subAll.join(c, "sub")
      .withColumn("sc",
        VectorExpressions.dotFD(col("sv"), col("cv")) -
          lit(0.5) * (col("cnrm") * col("cnrm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("sub"), col("sv"), col("cell"))
  }

  /** [[kmUpdate]] with the subspace id carried through the grouping
    * keys — one partial-aggregated (sub, cell, dim) shuffle updates all
    * [[PqM]] codebooks (same exact limb-sum means; see [[kmUpdate]] for
    * the fsumN rationale and the oracle-parity cell-size bound).
    */
  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy(col("sub"), col("cell"), col("dim"))
      .agg((fsumN(col("x").cast(DoubleType), 12) / count(lit(1))).as("m"))
      .groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("cv"))

  /** Recall floor for the PQ arm of the gate. iid random vectors are
    * PQ's worst case (no subspace structure to exploit), yet the floor
    * certifies a SERVABLE operating point: at the PQ8 + 20×-shortlist
    * configuration recall@10 measures ≥ 0.9 at both gate scale factors
    * (sf0.01 and sf0.1), so 0.7 keeps real margin at the next corpus
    * size — unlike round 5's 0.48-over-0.4, which eroded with scale.
    */
  val PqRecallFloor = 0.7

  /** Product-quantization ANN, gated as a recall row (the [[simRecall]]
    * pattern): train [[PqM]] per-subspace codebooks, encode every corpus
    * vector as [[PqM]] 8-bit codes, answer the gate queries via ADC
    * (asymmetric distance computation — exact query sub-vectors against
    * a per-query lookup table of sub-dot-products), and emit recall@k
    * vs [[simTopkBrute]] with the floor boolean pinned TRUE in the
    * oracle.
    *
    * Scale posture — WHY PQ exists next to IVF/LSH: the codes are 8
    * bytes per vector vs 256 raw (32×), so a 100 TB vector corpus
    * becomes a ~3 TB code table that SCANS at memory bandwidth; the
    * scan is linear like brute force but touches only codes + a
    * [[PqM]]·[[PqK]]-entry broadcast LUT per query — no per-pair float
    * math at all.
    * Here the ADC sum rides a (q_id, c_id)-keyed partial-agg shuffle of
    * narrow (sub, pdot) rows with an order-pinned fold (doubles sum in
    * subspace order in BOTH engines — a plain `sum(pdot)` would be
    * partition-order-dependent and hash-break); in a dedicated 100 TB
    * deployment the same sum runs map-side against the broadcast LUT
    * (codes array → 8 array lookups per row), and the natural
    * composition is IVF cells × PQ codes within each cell. Training
    * touches only the [[KmSamplePerCell]]·k sample per subspace; only
    * encoding (one broadcast assignment per subspace) sees all n.
    */
  /** One row per (vector, subspace): a single pass slices all [[PqM]]
    * sub-vectors (no PqM-way scan union). Output `(<idOut>, sub, sv)`.
    */
  private[operators] def pqSubAll(df: DataFrame, id: String, vec: String,
      idOut: String = "vec_id"): DataFrame =
    df.select(col(id).as(idOut),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("sub"),
            slice(col(vec), m * PqSubDim + 1, PqSubDim)
              .as("sv"))): _*)).as("s"))
      .select(col(idOut), col("s.sub").as("sub"), col("s.sv").as("sv"))

  /** Train the [[PqM]]×[[PqK]] PQ codebooks over a corpus: the
    * deterministic `id % step == 0` sample, rank-based seeds (first
    * [[PqK]] sample members per subspace by `row_number` over id order
    * — robust to sparse ids, same rationale as [[trainedCentroids]];
    * the rank window partitions by `sub` over the bounded sample),
    * [[KmIters]] Lloyd rounds of (L2 assign, limb-exact mean update) —
    * all subspaces in one sub-keyed plan. Output `(sub, cell, cv)`;
    * `n` is the corpus row count (passed in so callers can share one
    * count across stages).
    */
  def pqIndex(corpus: DataFrame, n: Long, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    trainingPasses.increment() // a Lloyd run, same as trainedCentroids
    val step = math.max(1L, n / (KmSamplePerCell.toLong * PqK))
    // materialize the bounded sample once: every Lloyd round otherwise
    // re-scans the FULL corpus to re-derive it (the modulo predicate
    // cannot push to the parquet footer)
    val sampleVecs = corpus
      .select(col(id).as("vec_id"), col(vec).as("embedding"))
      .filter(col("vec_id") % step === 0).localCheckpoint()
    val sample = pqSubAll(sampleVecs, "vec_id", "embedding")
    val seedW = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var cent = sample
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= PqK)
      .select(col("sub"), (col("rn") - 1).cast("int").as("cell"),
        transform(col("sv"), x => x.cast(DoubleType)).as("cv"))
    // kernel-looped Lloyd: each round collects the tiny (≤ M×K rows)
    // codebook to the driver and re-assigns the sample in ONE map-side
    // kernel pass — the declarative pqAssignAll join/window assign
    // materialized sample×K scored rows per round (≥100M rows over a
    // training run at the 100× probe). Assignment is bit-identical to
    // the declarative form (SimilaritySpec pins it), update unchanged,
    // so the trained codebooks — and the DuckDB-mirrored gate results —
    // are unchanged.
    for (_ <- 1 to KmIters) {
      val arrays = collectPqArrays(cent)
      val assigned = pqKernelCodes(sampleVecs, arrays)
        .select(col("vec_id"), col("sub"), col("cell"),
          slice(col("embedding"), col("sub") * PqSubDim + 1,
            lit(PqSubDim)).as("sv"))
      cent = pqUpdate(assigned)
    }
    cent
  }

  /** PQ top-k: encode the corpus with `cent` (from [[pqIndex]]), score
    * each query against the codes via ADC, exact-refine the
    * [[PqShortlist]]-deep shortlist, and emit `(q_id, rank, c_id,
    * cosine)` — the [[cosineTopK]] output shape, with `cosine` the
    * EXACT refined score. `excludeSelfIds` as in [[cosineTopK]],
    * applied before the shortlist so a query's own row never consumes a
    * slot.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, cent: DataFrame,
      k: Int, id: String = "vec_id", vec: String = "embedding",
      excludeSelfIds: Boolean = true,
      shortlist: Int = PqShortlist,
      encoded: Option[DataFrame] = None): DataFrame = {
    val centN = cent.select(col("sub"), col("cell"), col("cv"),
      VectorExpressions.l2NormD(col("cv")).as("cnrm"))
    // encode: PqM codes per corpus vector (or the pre-built codes table)
    val enc = encoded.getOrElse(
      pqAssignAll(pqSubAll(corpus, id, vec), cent)
        .select(col("vec_id").as("c_id"), col("sub"), col("cell")))
    // per-query LUT: sub-dot of each exact query sub-vector with every
    // codebook entry (nQueries × PqM × PqK rows — broadcast)
    val lut = pqSubAll(queries, id, vec, "q_id")
      .join(broadcast(centN), "sub")
      .select(col("q_id"), col("sub"), col("cell"),
        VectorExpressions.dotFD(col("sv"), col("cv")).as("pdot"),
        (col("cnrm") * col("cnrm")).as("cn2"))
    val qn = queries.select(col(id).as("q_id"),
      VectorExpressions.l2NormF(col(vec)).as("qn"))
    // ADC: per (query, candidate), fold the PqM LUT entries in subspace
    // order (order-pinned double sum — a plain sum() would be
    // partition-order-dependent and hash-break vs the oracle)
    val sortedParts = array_sort(collect_list(struct(col("sub"),
      col("pdot"), col("cn2"))))
    val selfCond =
      if (excludeSelfIds) col("q_id") =!= col("c_id") else lit(true)
    val scored = enc.join(broadcast(lut), Seq("sub", "cell"))
      .filter(selfCond)
      .groupBy(col("q_id"), col("c_id"))
      .agg(sortedParts.as("parts"))
      .select(col("q_id"), col("c_id"),
        aggregate(transform(col("parts"), p => p.getField("pdot")),
          lit(0.0), (acc, x) => acc + x).as("adot"),
        aggregate(transform(col("parts"), p => p.getField("cn2")),
          lit(0.0), (acc, x) => acc + x).as("cn2sum"))
      .join(broadcast(qn), "q_id")
      .select(col("q_id"), col("c_id"),
        (col("adot") / (col("qn") * sqrt(col("cn2sum")))).as("approx_cos"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_cos").desc, col("c_id"))
    val short = scored.withColumn("srank", row_number().over(wAdc))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"))
    // refine: exact cosine over the shortlist only (the FAISS refine
    // stage) — same expression as simTopkBrute, so exact scores are
    // bit-identical to the oracle's
    val cvecs = corpus.select(col(id).as("c_id"), col(vec).as("cv2"),
      VectorExpressions.l2NormF(col(vec)).as("cn"))
    val qvecs = queries.select(col(id).as("q_id"), col(vec).as("qv"),
      VectorExpressions.l2NormF(col(vec)).as("qn2"))
    val wRef = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    short.join(cvecs, "c_id").join(broadcast(qvecs), "q_id")
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv2")) /
          (col("qn2") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wRef))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  def simPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cent = cachedPqCodebooks(s, d)
    val topk = pqTopK(e, e.filter(col("vec_id") < NumQueryVectors), cent,
      TopK, encoded = Some(cachedPqCodes(s, d)))
      .select(col("q_id"), col("c_id"))
    val total = NumQueryVectors * TopK
    simTopkBrute(s, d).select(col("q_id"), col("c_id"))
      .join(topk, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit("pq").as("method"), col("hits"),
        lit(total.toLong).as("total"),
        (col("hits").cast(DoubleType) / total).as("recall"),
        (col("hits").cast(DoubleType) / total >= PqRecallFloor)
          .as("meets_floor"))
  }

  /** DuckDB mirror of the full PQ pipeline — slicing, per-subspace
    * Lloyd training, encoding, ADC with the same subspace-ordered
    * folds, shortlist, exact refine, recall join — with `meets_floor`
    * pinned TRUE (the q27_approx trick: if a change drops recall below
    * [[PqRecallFloor]], Spark computes `false` and the gate
    * hash-mismatches).
    */
  val simPqSql: String = {
    def pqAssignCteSql(src: String, cent: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, sub, sv, cell FROM (
         |    SELECT s.vec_id, s.sub, s.sv, c.cell,
         |      ${kmDotSql("s.sv", "c.cv")} - 0.5 * (${kmNormSql("c.cv")} * ${kmNormSql("c.cv")}) AS sc
         |    FROM $src s JOIN $cent c ON s.sub = c.sub) z
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |    ORDER BY sc DESC, cell) = 1)""".stripMargin
    def pqUpdateCteSql(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT sub, cell, list(m ORDER BY dim) AS cv FROM (
         |    SELECT sub, cell, dim, ${fsumNSql("x", 12)} / COUNT(*) AS m
         |    FROM (SELECT sub, cell, unnest(range(1, len(sv) + 1)) AS dim,
         |            unnest(sv) AS x FROM $assigned) u
         |    GROUP BY sub, cell, dim) g
         |  GROUP BY sub, cell)""".stripMargin
    val iters = (1 to KmIters).map { i =>
      val prev = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${pqAssignCteSql("samp", prev, s"pa$i")},\n${pqUpdateCteSql(s"pa$i", s"cent$i")}"
    }.mkString(",\n")
    val total = NumQueryVectors * TopK
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    ${kmNormSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |pqp AS (
       |  SELECT GREATEST(1, n // ($KmSamplePerCell * $PqK)) AS step
       |  FROM (SELECT COUNT(*) AS n FROM embeddings) z),
       |suball AS (
       |  SELECT vec_id, m.sub,
       |    v[(m.sub * $PqSubDim + 1):(m.sub * $PqSubDim + $PqSubDim)] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS sub) m),
       |samp AS (SELECT * FROM suball
       |         WHERE vec_id % (SELECT step FROM pqp) = 0),
       |cent0 AS (
       |  SELECT sub,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
       |      AS INTEGER) AS cell,
       |    sv AS cv
       |  FROM samp
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) <= $PqK),
       |$iters,
       |centn AS (SELECT sub, cell, cv, ${kmNormSql("cv")} AS cnrm
       |          FROM cent$KmIters),
       |${pqAssignCteSql("suball", s"cent$KmIters", "enca")},
       |enc AS (SELECT vec_id AS c_id, sub, cell FROM enca),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.sub, c.cell,
       |    ${kmDotSql("s.sv", "c.cv")} AS pdot,
       |    (c.cnrm * c.cnrm) AS cn2
       |  FROM suball s JOIN centn c ON s.sub = c.sub
       |  WHERE s.vec_id < $NumQueryVectors),
       |adc AS (
       |  SELECT l.q_id, en.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.pdot ORDER BY l.sub)), $kmFoldSql) AS adot,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.cn2 ORDER BY l.sub)), $kmFoldSql) AS cn2sum
       |  FROM enc en JOIN lut l ON en.sub = l.sub AND en.cell = l.cell
       |  WHERE l.q_id <> en.c_id
       |  GROUP BY l.q_id, en.c_id),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT a.q_id, a.c_id,
       |      a.adot / (eq.nrm * sqrt(a.cn2sum)) AS approx_cos
       |    FROM adc a JOIN e eq ON eq.vec_id = a.q_id) sc
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY approx_cos DESC, c_id) <= $PqShortlist),
       |topkpq AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT sh.q_id, sh.c_id,
       |      ${kmDotSql("eq.v", "ec.v")} / (eq.nrm * ec.nrm) AS cosine
       |    FROM short sh
       |    JOIN e eq ON eq.vec_id = sh.q_id
       |    JOIN e ec ON ec.vec_id = sh.c_id) r
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, c_id) <= $TopK),
       |brute AS (SELECT q_id, c_id FROM ($simTopkBruteSql) b),
       |h AS (SELECT COUNT(*) AS hits
       |      FROM topkpq JOIN brute USING (q_id, c_id))
       |SELECT 'pq' AS method, CAST(hits AS BIGINT) AS hits,
       |  CAST($total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / $total AS recall,
       |  TRUE AS meets_floor
       |FROM h""".stripMargin
  }

  // ---------------------------------------------------------------------
  // IVF × PQ composition — the 100 TB ANN architecture.
  // ---------------------------------------------------------------------

  /** Coarse cells probed per query in the IVF×PQ composition — wider
    * than flat IVF's [[NumProbes]] because here probing is CHEAP: a
    * probed cell costs an ADC code scan (8 byte-code lookups per
    * candidate), not full-precision float math, so the composition
    * buys recall with probes instead of with raw-vector reads. 8 of
    * ⌈√n⌉ cells is a ~8/√n corpus fraction — still vanishing at scale.
    */
  val IvfPqProbes = 8

  /** Recall floor for the IVF×PQ arm. The composition's recall is the
    * PRODUCT of coarse recall (true neighbor's cell gets probed) and
    * fine recall (ADC shortlist retains it); measured 0.92 / 0.96 /
    * 0.88 at sf0.001 / sf0.01 / sf0.1 with [[IvfPqProbes]] probes and
    * the PQ8 codebooks — flat across a 100× corpus range (the probed
    * fraction shrinks as 8/√n but the PQ ordering barely misses), so
    * 0.7 certifies a servable point with margin.
    */
  val IvfPqRecallFloor = 0.7

  /** IVF×PQ top-k — the composition FAISS deploys as `IVFx,PQy` and
    * the scaladoc of [[pqTopK]] names as the real 100 TB architecture:
    * a trained coarse quantizer (the ⌈√n⌉-cell IVF index) bounds each
    * query's candidate set to its [[IvfPqProbes]] nearest cells, the
    * PQ codes make scanning those candidates a memory-bandwidth ADC
    * pass (no raw vectors touched), and the exact refine re-scores
    * only the [[PqShortlist]]-deep shortlist in full precision.
    *
    * Against its two parents: flat IVF ([[simIvf]]) reads full-
    * precision vectors for every candidate (256 B each); flat PQ
    * ([[pqTopK]]) scans ALL n codes per query. The composition scans
    * `n·probes/⌈√n⌉ ≈ 8√n` CODES per query — sublinear in corpus
    * size AND 32× denser than raw — which is what serves a 100 TB
    * corpus from RAM.
    *
    * Codes are over raw sub-vectors, not residuals: FAISS's residual
    * encoding (x − coarse centroid) recenters each cell's distribution
    * for extra fidelity, but it is a quality knob orthogonal to the
    * plan SHAPE (cell-bounded ADC scans + exact refine either way),
    * and the refine stage re-scores in full precision regardless — the
    * gate certifies end-to-end recall directly (see
    * [[IvfPqRecallFloor]] for the measured values).
    *
    * Plan shape: coarse assignment and probe ranking are the same
    * broadcast-centroid passes as [[simIvf]]; candidates travel as
    * narrow (q_id, c_id) rows; the ADC fold, shortlist, and refine are
    * [[pqTopK]]'s order-pinned machinery restricted to the candidate
    * join — nothing quadratic, nothing driver-side beyond the shared
    * corpus count.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, ivfCent: DataFrame,
      pqCent: DataFrame, k: Int, id: String = "vec_id",
      vec: String = "embedding", excludeSelfIds: Boolean = true,
      shortlist: Int = PqShortlist, numProbes: Int = IvfPqProbes,
      encoded: Option[DataFrame] = None,
      assignedCells: Option[DataFrame] = None): DataFrame = {
    val centN = pqCent.select(col("sub"), col("cell"), col("cv"),
      VectorExpressions.l2NormD(col("cv")).as("cnrm"))
    // coarse: home cell per corpus vector (or the pre-built inverted
    // lists), probe list per query
    val assigned = assignedCells.getOrElse(
      kernelProbeCells(corpus.select(col(id).as("vec_id"), col(vec)
          .as("embedding")), ivfCent, 1, "c_id", "cv_c", "cn_c")
        .select(col("c_id"), col("cell").as("icell")))
    val probes = kernelProbeCells(queries.select(col(id).as("vec_id"),
        col(vec).as("embedding")), ivfCent, numProbes, "q_id", "qv", "qn")
      .select(col("q_id"), col("cell").as("icell"))
    val selfCond =
      if (excludeSelfIds) col("q_id") =!= col("c_id") else lit(true)
    val cand = assigned.join(broadcast(probes), Seq("icell"))
      .filter(selfCond)
      .select(col("q_id"), col("c_id"))
    // fine: global PQ codes + per-query LUT, ADC restricted to cand
    val enc = encoded.getOrElse(
      pqAssignAll(pqSubAll(corpus, id, vec), pqCent)
        .select(col("vec_id").as("c_id"), col("sub"), col("cell")))
    val lut = pqSubAll(queries, id, vec, "q_id")
      .join(broadcast(centN), "sub")
      .select(col("q_id"), col("sub"), col("cell"),
        VectorExpressions.dotFD(col("sv"), col("cv")).as("pdot"),
        (col("cnrm") * col("cnrm")).as("cn2"))
    val qn = queries.select(col(id).as("q_id"),
      VectorExpressions.l2NormF(col(vec)).as("qn"))
    val sortedParts = array_sort(collect_list(struct(col("sub"),
      col("pdot"), col("cn2"))))
    val scored = cand.join(enc, "c_id")
      .join(broadcast(lut), Seq("q_id", "sub", "cell"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sortedParts.as("parts"))
      .select(col("q_id"), col("c_id"),
        aggregate(transform(col("parts"), p => p.getField("pdot")),
          lit(0.0), (acc, x) => acc + x).as("adot"),
        aggregate(transform(col("parts"), p => p.getField("cn2")),
          lit(0.0), (acc, x) => acc + x).as("cn2sum"))
      .join(broadcast(qn), "q_id")
      .select(col("q_id"), col("c_id"),
        (col("adot") / (col("qn") * sqrt(col("cn2sum")))).as("approx_cos"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_cos").desc, col("c_id"))
    val short = scored.withColumn("srank", row_number().over(wAdc))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"))
    // refine: exact cosine over the shortlist only
    val cvecs = corpus.select(col(id).as("c_id"), col(vec).as("cv2"),
      VectorExpressions.l2NormF(col(vec)).as("cn"))
    val qvecs = queries.select(col(id).as("q_id"), col(vec).as("qv"),
      VectorExpressions.l2NormF(col(vec)).as("qn2"))
    val wRef = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    short.join(cvecs, "c_id").join(broadcast(qvecs), "q_id")
      .select(col("q_id"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv2")) /
          (col("qn2") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wRef))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  /** Gated recall row for [[ivfPqTopK]] (the [[simPq]] pattern): both
    * trained indexes come from the session index cache — shared with
    * `sim_ivf`/`sim_knn_join`/`sim_filtered_knn` (IVF centroids) and
    * `sim_pq` (PQ codebooks), so a suite run trains each exactly once —
    * and the floor boolean is pinned TRUE in the oracle.
    */
  def simIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val ivfCent = cachedIvfCentroids(s, d)
    val pqCent = cachedPqCodebooks(s, d)
    val topk = ivfPqTopK(e, e.filter(col("vec_id") < NumQueryVectors),
      ivfCent, pqCent, TopK, encoded = Some(cachedPqCodes(s, d)),
      assignedCells = Some(cachedIvfAssignment(s, d)))
      .select(col("q_id"), col("c_id"))
    val total = NumQueryVectors * TopK
    simTopkBrute(s, d).select(col("q_id"), col("c_id"))
      .join(topk, Seq("q_id", "c_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit("ivfpq").as("method"), col("hits"),
        lit(total.toLong).as("total"),
        (col("hits").cast(DoubleType) / total).as("recall"),
        (col("hits").cast(DoubleType) / total >= IvfPqRecallFloor)
          .as("meets_floor"))
  }

  /** DuckDB mirror of the full IVF×PQ pipeline: the trained-IVF CTE
    * chain (`kparam…cent`, shared with the flat-IVF oracles), a
    * `p`-prefixed copy of the PQ training/encode chain (the two Lloyd
    * chains both want `cent0…cent2`, so the PQ side renames), the ADC
    * restricted to the coarse candidate join, shortlist, exact refine,
    * recall vs brute — with `meets_floor` pinned TRUE.
    */
  val simIvfPqSql: String = {
    def pqAssignCteSql(src: String, cent: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, sub, sv, cell FROM (
         |    SELECT s.vec_id, s.sub, s.sv, c.cell,
         |      ${kmDotSql("s.sv", "c.cv")} - 0.5 * (${kmNormSql("c.cv")} * ${kmNormSql("c.cv")}) AS sc
         |    FROM $src s JOIN $cent c ON s.sub = c.sub) z
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |    ORDER BY sc DESC, cell) = 1)""".stripMargin
    def pqUpdateCteSql(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT sub, cell, list(m ORDER BY dim) AS cv FROM (
         |    SELECT sub, cell, dim, ${fsumNSql("x", 12)} / COUNT(*) AS m
         |    FROM (SELECT sub, cell, unnest(range(1, len(sv) + 1)) AS dim,
         |            unnest(sv) AS x FROM $assigned) u
         |    GROUP BY sub, cell, dim) g
         |  GROUP BY sub, cell)""".stripMargin
    val pqIters = (1 to KmIters).map { i =>
      val prev = if (i == 1) "pcent0" else s"pcent${i - 1}"
      s"${pqAssignCteSql("psamp", prev, s"ppa$i")},\n${pqUpdateCteSql(s"ppa$i", s"pcent$i")}"
    }.mkString(",\n")
    val total = NumQueryVectors * TopK
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    ${kmNormSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
       |ranks AS (
       |  SELECT e.vec_id, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, cell AS icell FROM ranks
       |             WHERE crank = 1),
       |iprobes AS (SELECT vec_id AS q_id, cell AS icell FROM ranks
       |            WHERE crank <= $IvfPqProbes AND vec_id < $NumQueryVectors),
       |cand AS (
       |  SELECT p.q_id, a.c_id
       |  FROM assigned a JOIN iprobes p ON a.icell = p.icell
       |  WHERE p.q_id <> a.c_id),
       |pqp AS (
       |  SELECT GREATEST(1, n // ($KmSamplePerCell * $PqK)) AS step
       |  FROM (SELECT COUNT(*) AS n FROM embeddings) z),
       |psub AS (
       |  SELECT vec_id, m.sub,
       |    v[(m.sub * $PqSubDim + 1):(m.sub * $PqSubDim + $PqSubDim)] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS sub) m),
       |psamp AS (SELECT * FROM psub
       |          WHERE vec_id % (SELECT step FROM pqp) = 0),
       |pcent0 AS (
       |  SELECT sub,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
       |      AS INTEGER) AS cell,
       |    sv AS cv
       |  FROM psamp
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) <= $PqK),
       |$pqIters,
       |pcentn AS (SELECT sub, cell, cv, ${kmNormSql("cv")} AS cnrm
       |           FROM pcent$KmIters),
       |${pqAssignCteSql("psub", s"pcent$KmIters", "penca")},
       |penc AS (SELECT vec_id AS c_id, sub, cell FROM penca),
       |plut AS (
       |  SELECT s.vec_id AS q_id, s.sub, c.cell,
       |    ${kmDotSql("s.sv", "c.cv")} AS pdot,
       |    (c.cnrm * c.cnrm) AS cn2
       |  FROM psub s JOIN pcentn c ON s.sub = c.sub
       |  WHERE s.vec_id < $NumQueryVectors),
       |adc AS (
       |  SELECT cd.q_id, cd.c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.pdot ORDER BY l.sub)), $kmFoldSql) AS adot,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.cn2 ORDER BY l.sub)), $kmFoldSql) AS cn2sum
       |  FROM cand cd
       |  JOIN penc en ON en.c_id = cd.c_id
       |  JOIN plut l ON l.q_id = cd.q_id AND l.sub = en.sub
       |    AND l.cell = en.cell
       |  GROUP BY cd.q_id, cd.c_id),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT a.q_id, a.c_id,
       |      a.adot / (eq.nrm * sqrt(a.cn2sum)) AS approx_cos
       |    FROM adc a JOIN e eq ON eq.vec_id = a.q_id) sc
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY approx_cos DESC, c_id) <= $PqShortlist),
       |topkq AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT sh.q_id, sh.c_id,
       |      ${kmDotSql("eq.v", "ec.v")} / (eq.nrm * ec.nrm) AS cosine
       |    FROM short sh
       |    JOIN e eq ON eq.vec_id = sh.q_id
       |    JOIN e ec ON ec.vec_id = sh.c_id) r
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, c_id) <= $TopK),
       |brute AS (SELECT q_id, c_id FROM ($simTopkBruteSql) b),
       |h AS (SELECT COUNT(*) AS hits
       |      FROM topkq JOIN brute USING (q_id, c_id))
       |SELECT 'ivfpq' AS method, CAST(hits AS BIGINT) AS hits,
       |  CAST($total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / $total AS recall,
       |  TRUE AS meets_floor
       |FROM h""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ANN quality gate — recall@k of the approximate paths vs brute
  // force, as a CORRECTNESS row (the q27_approx pattern: the recall
  // VALUE hash-matches the oracle, and the floor booleans are pinned
  // TRUE, so a bucketing change that trades recall for speed fails the
  // gate instead of sailing through).
  // ---------------------------------------------------------------------

  /** Recall floors for [[simRecall]]'s pinned booleans. The corpus
    * vectors are iid random (TESTDATA) — the hardest case for both
    * index families — so the floors are modest; real embedding
    * clusters collide far more readily.
    */
  val AnnLshRecallFloor = 0.3 // measured 0.40 at sf0.01
  val IvfRecallFloor = 0.5    // measured 0.78 at sf0.01 (trained index)

  /** Recall@[[TopK]] of the two approximate indexes against the exact
    * brute-force neighbors, over the gated query set. `hits` counts
    * (q_id, c_id) pairs the approximate list shares with the exact
    * list; recall = hits / (queries × k) as ONE exact division — no
    * float accumulation, so the double is engine-identical.
    */
  def simRecall(s: SparkSession, d: String): DataFrame = {
    val total = NumQueryVectors * TopK
    val brute = simTopkBrute(s, d).select(col("q_id"), col("c_id"))
    def arm(name: String, res: DataFrame, floor: Double): DataFrame =
      brute.join(res.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"),
          "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), col("hits"),
          lit(total.toLong).as("total"),
          (col("hits").cast(DoubleType) / total).as("recall"),
          (col("hits").cast(DoubleType) / total >= floor).as("meets_floor"))
    arm("ann_lsh", simAnnLsh(s, d), AnnLshRecallFloor)
      .unionByName(arm("ivf", simIvf(s, d), IvfRecallFloor))
      .orderBy(col("method"))
  }

  /** DuckDB mirror: the two full pipelines as subqueries (each brings
    * its own CTE chain), pair-joined exactly. `meets_floor` is the
    * LITERAL `TRUE` (the q27_approx pinning trick): the Spark side
    * computes the real `recall >= floor` predicate, so an index change
    * that drops recall below its floor hash-mismatches the gate instead
    * of both engines agreeing on `false`.
    */
  val simRecallSql: String = {
    val total = NumQueryVectors * TopK
    s"""WITH brute AS (SELECT q_id, c_id FROM ($simTopkBruteSql) b),
       |ann AS (SELECT q_id, c_id FROM ($simAnnLshSql) a),
       |ivf AS (SELECT q_id, c_id FROM ($simIvfSql) i),
       |h AS (
       |  SELECT 'ann_lsh' AS method, COUNT(*) AS hits
       |  FROM ann JOIN brute USING (q_id, c_id)
       |  UNION ALL
       |  SELECT 'ivf', COUNT(*)
       |  FROM ivf JOIN brute USING (q_id, c_id))
       |SELECT method, CAST(hits AS BIGINT) AS hits,
       |  CAST($total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / $total AS recall,
       |  TRUE AS meets_floor
       |FROM h
       |ORDER BY method""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_hybrid — query-by-document hybrid retrieval with RRF fusion.
  // ---------------------------------------------------------------------

  val HybridArmK = 20   // candidates taken from each arm
  val HybridTopK = 10   // fused results kept per query
  val RrfK = "60.0"     // the standard RRF constant, as a decimal literal

  /** Hybrid retrieval: each query DOCUMENT (`doc_id < NumQueryVectors`
    * — documents and embeddings share the id space) retrieves related
    * documents through BOTH arms — lexical (BM25 over the query doc's
    * distinct terms, the "more-like-this" mode) and dense (ANN over
    * its embedding) — fused by Reciprocal Rank Fusion:
    * `rrf = Σ_arm 1/(60 + rank_arm)`, the standard score-free fusion
    * (ranks are comparable across arms where raw BM25 and cosine are
    * not). A doc missing from one arm's top-[[HybridArmK]] contributes
    * only its other rank. Self-matches are excluded from BOTH arms
    * before ranking, so arm ranks are over true candidates.
    *
    * SERVED, both arms: the lexical arm joins the query terms against
    * the session-cached BM25 postings index
    * ([[graft.streaming.DocStreams.cachedPostings]] — the same
    * build-once artifact `st_bm25` serves from; per-term df/dl/corpus
    * stats are baked into each posting's score, so scores are
    * IDENTICAL to the previous in-plan tf/df build, which filtered to
    * query terms before grouping and hence computed the same per-term
    * df), and the dense arm probes the persisted IVF inverted lists
    * ([[ivfServeTopK]], the `sim_ivf` serve plan at k =
    * [[HybridArmK]]). Serving cost is query-term postings + probe-cell
    * candidates — independent of corpus size given the indexes, the
    * posture a 100 TB hybrid endpoint requires. The IVF arm is
    * approximate where exact cosine was not; the oracle mirrors the
    * full IVF chain (train → assign → probe → re-score), so the gate
    * still pins every rank.
    *
    * Cross-engine exactness: ranks are integers; `1/(60 + rank)` is
    * one exact-rounded division; the two contributions add in a PINNED
    * order (lexical + dense). The fused join carries only
    * (query, doc, rank) triples — 2·ArmK rows per query.
    */
  def simHybrid(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val qterms = docs.filter(col("doc_id") < NumQueryVectors)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    // lexical arm — query terms against the cached postings index.
    // The per-(doc, term) BM25 parts fold as QUANTIZED integers
    // (`floor(sc·10¹²)` per posting — each sc is already bit-identical
    // cross-engine, and an integer sum is partition-order-free where a
    // double fold is not), so the aggregation stays a codegen'd
    // hash-agg with map-side partials instead of a per-group
    // collect_list + sort_array — the same exact-sum device the
    // estimator-certification rows use.
    val post = graft.streaming.DocStreams.cachedPostings(s, d)
    // dense arm — the served IVF index at arm depth, self excluded
    // inside the serve plan
    val denseRank = ivfServeTopK(s, d, HybridArmK)
      .select(col("q_id").as("query_id"), col("c_id").as("doc_id"),
        col("rank").cast("long").as("dense_rank"))
    hybridFuse(qterms, post, denseRank)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The ONE definition of the hybrid lexical-arm ranking + RRF fusion:
    * `qterms (query_id, term)` joins a postings relation `(term,
    * doc_id, sc)` (any source — the session-cached index in the gate,
    * an in-plan build in the facade), per-(query, doc) BM25 parts fold
    * as quantized integers, arm ranks fuse with an externally-supplied
    * dense arm by `Σ 1/(60 + rank)`. Self-matches are excluded on the
    * lexical side here; the dense arm excludes its own.
    */
  private[graft] def hybridFuse(qterms: DataFrame, post: DataFrame,
      denseRank: DataFrame, armK: Int = HybridArmK,
      topK: Int = HybridTopK): DataFrame = {
    val lexScored = post
      .join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        floor(col("sc") * lit(1e12)).cast(LongType).as("sc_q"))
    val lexRank = lexScored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sc_q")).as("score_q"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_q").desc, col("doc_id"))).cast("long"))
      .filter(col("lex_rank") <= armK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val rrf =
      coalesce(lit(1.0) / (lit(RrfK.toDouble) +
        col("lex_rank").cast(DoubleType)), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK.toDouble) +
        col("dense_rank").cast(DoubleType)), lit(0.0))
    lexRank.join(denseRank, Seq("query_id", "doc_id"), "outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), rrf.as("rrf_score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("lex_rank"), col("dense_rank"), col("rrf_score"))
  }

  val simHybridSql: String =
    s"""WITH toksrel AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |q AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       |  FROM toksrel WHERE doc_id < $NumQueryVectors),
       |n AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toksrel),
       |tok AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toksrel),
       |tf AS (
       |  SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |lexscored AS (
       |  SELECT q.query_id, tf.doc_id, tf.term,
       |    ((CAST(n.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
       |      * ((CAST(tf.tf AS DOUBLE) * ${TextAnalysis.Bm25K1Plus1}) /
       |         (CAST(tf.tf AS DOUBLE) + ${TextAnalysis.Bm25K1} * (${TextAnalysis.Bm25OneMinusB} + ${TextAnalysis.Bm25B} *
       |           (CAST(tf.dl AS DOUBLE) / (CAST(n.sum_dl AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))) AS sc
       |  FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN n
       |  WHERE tf.doc_id <> q.query_id),
       |lexagg AS (
       |  SELECT query_id, doc_id,
       |    SUM(CAST(floor(sc * 1e12) AS BIGINT)) AS score_q
       |  FROM lexscored GROUP BY query_id, doc_id),
       |lexrank AS (
       |  SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT query_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY score_q DESC, doc_id) AS lex_rank
       |    FROM lexagg) t WHERE lex_rank <= $HybridArmK),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |$trainedCentCtesSql,
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
       |           WHERE crank <= $NumProbes AND vec_id < $NumQueryVectors),
       |densescored AS (
       |  SELECT p.q_id AS query_id, a.c_id AS doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  JOIN e eq ON eq.vec_id = p.q_id
       |  JOIN e ec ON ec.vec_id = a.c_id
       |  WHERE p.q_id <> a.c_id),
       |denserank AS (
       |  SELECT query_id, doc_id, dense_rank FROM (
       |    SELECT query_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, doc_id) AS dense_rank
       |    FROM densescored) t WHERE dense_rank <= $HybridArmK),
       |fused AS (
       |  SELECT query_id, doc_id, lex_rank, dense_rank,
       |    COALESCE(1.0 / ($RrfK + CAST(lex_rank AS DOUBLE)), 0.0) +
       |    COALESCE(1.0 / ($RrfK + CAST(dense_rank AS DOUBLE)), 0.0) AS rrf_score
       |  FROM lexrank FULL JOIN denserank USING (query_id, doc_id))
       |SELECT query_id, rank, doc_id, lex_rank, dense_rank, rrf_score
       |FROM (SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY rrf_score DESC, doc_id) AS rank
       |      FROM fused) t
       |WHERE rank <= $HybridTopK
       |ORDER BY query_id, rank""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("sim_hybrid",       simHybrid,      simHybridSql),
    Gated("sim_topk_brute",   simTopkBrute,   simTopkBruteSql),
    Gated("sim_mmr",          simMmr,         simMmrSql),
    Gated("sim_mmr_served",   simMmrServed,   simMmrServedSql),
    Gated("sim_ann_lsh",      simAnnLsh,      simAnnLshSql),
    Gated("sim_ivf",          simIvf,         simIvfSql),
    Gated("sim_ivf_upsert",   simIvfUpsert,   simIvfUpsertSql),
    Gated("sim_knn_join",     simKnnJoin,     simKnnJoinSql),
    Gated("sim_filtered_knn", simFilteredKnn, simFilteredKnnSql),
    Gated("emb_quantize",     embQuantize,    embQuantizeSql),
    Gated("emb_outliers",     embOutliers,    embOutliersSql),
    Gated("emb_assign2",      embAssign2,     embAssign2Sql),
    Gated("emb_kmeans",       embKmeans,      embKmeansSql),
    Gated("sim_recall",       simRecall,      simRecallSql),
    Gated("sim_pq",           simPq,          simPqSql),
    Gated("sim_ivfpq",        simIvfPq,       simIvfPqSql),
  )
}
