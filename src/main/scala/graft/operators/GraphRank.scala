package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Gated
import graft.sources.Tables.documents

/** Graph-centrality ranking over corpus-derived graphs — the PageRank
  * family, which the reference (a two-verb map/reduce DFS) has no
  * analogue of but every large-corpus pipeline runs: link-graph
  * centrality as a quality prior, and TextRank (Mihalcea & Tarau 2004)
  * over the token co-occurrence graph for corpus-level keyword
  * extraction.
  *
  * Cross-engine determinism is the design driver, exactly as in
  * [[EventAnalytics.zColumns]]: iterated float PageRank can never
  * hash-match another engine (every per-vertex sum depends on
  * partition accumulation order, and the error compounds per
  * iteration), so the WHOLE computation runs in fixed-point integer
  * arithmetic — ranks as [[RScale]]-scaled longs, edge transition
  * probabilities as [[PScale]]-scaled longs, every division an integer
  * `DIV`. Both engines floor the same non-negative integers, so ten
  * iterations later the ranks are still bit-identical. Overflow is
  * excluded BY CONSTRUCTION at any corpus size: a rank is bounded by
  * the total mass `RScale` (1e12) and a transition by `PScale` (1e6),
  * so the per-edge product never exceeds 1e18 < 2^63.
  *
  * Scale shape: ONE corpus scan builds the co-occurrence edge list
  * (map-side pair explode → wordcount-shaped partial aggregation onto
  * a vocabulary-bounded relation); the ten rank iterations then touch
  * only that edge relation — each is one hash equi-join (ranks ⋈ edges
  * on `src`) plus one partial-aggregated rollup on `dst`, with
  * `localCheckpoint` truncating the lineage so the plan stays
  * iteration-sized instead of growing 10 joins deep. Nothing in the
  * loop ever re-reads the corpus.
  */
object GraphRank {

  /** Fixed-point scale of a rank: total rank mass = 1e12 units. */
  val RScale = 1000000000000L

  /** Fixed-point scale of an edge transition probability. */
  val PScale = 1000000L

  /** Damping numerator (denominator 100): the classic 0.85. */
  val DampingNum = 85L

  /** Fixed iteration count — the contract is "ranks after exactly N
    * rounds", not convergence, so both engines stop at the same state.
    */
  val Iterations = 10

  /** Keywords reported by the gated query. */
  val TopK = 50

  /** TextRank keyword extraction over the corpus: PageRank on the
    * undirected token co-occurrence graph (adjacent non-stopword token
    * pairs), top-[[TopK]] tokens. The graph-centrality upgrade of
    * `ta_heavy_hitters` — frequency finds common tokens, TextRank finds
    * tokens that co-occur with many OTHER well-connected tokens.
    */
  def taTextrank(s: SparkSession, d: String): DataFrame =
    keywords(cachedRanks(s, d))

  /** Serve the top-[[TopK]] keywords from ANY rank table (the
    * session-cached one, or a [[graft.api.Corpus.loadRankModel]]'d
    * persisted one — the persisted-model serve path runs zero corpus
    * scans by construction).
    */
  def keywords(ranks: DataFrame): DataFrame =
    ranks.orderBy(col("rank_fp").desc, col("tok")).limit(TopK)

  /** The session-cached full rank table `(tok, w_total, rank_fp,
    * rank)` — built once per (session, dir), served by both gated
    * queries. [[pageRank]] already returns a materialized checkpoint
    * (its own loop internals freed), so the artifact store keeps it as
    * is — a second checkpoint would orphan the inner one for the
    * session lifetime.
    */
  private val cachedRanks = Artifacts.declare("ranks") { (s, d) =>
    val (edges, verts) = cooccurrenceGraph(s, d)
    pageRank(edges, verts)
  }

  /** Directed adjacent-pair counts `(w1, w2, n)` over non-stop,
    * non-self token pairs — the ONE corpus-sized pass of the whole
    * family, session-cached at its vocabulary²-bounded (model-sized)
    * output. Both the undirected graph and the keyphrase relation
    * derive from it without touching the corpus again.
    */
  private val directedPairCounts = Artifacts.declare("dpc")((s, d) =>
    // the one corpus-sized pass reads the session's tokenized-corpus
    // checkpoint (TextAnalysis.cachedTokRel) instead of re-tokenizing
    // the raw text — same pairs by construction
    pairCountsFromPairs(TextAnalysis.bigramPairRelFromToks(
      TextAnalysis.cachedTokRel(s, d))))

  /** Frame-parametric form of the pair rollup over ANY `(doc_id,
    * text)` frame — the relation the persisted rank model stores,
    * because it is ADDITIVE under corpus appends (each document
    * contributes its own adjacent pairs): fold `pairCounts(delta)`
    * into the stored rollup by summed union and the result equals a
    * from-scratch pass over the grown corpus, count for count — the
    * cleanest CDC refresh in the library.
    */
  def pairCounts(docs: DataFrame): DataFrame =
    pairCountsFromPairs(TextAnalysis.bigramPairRel(docs))

  /** [[pairCounts]] from an already-built adjacent-pair relation. */
  private def pairCountsFromPairs(pairRel: DataFrame): DataFrame = {
    val stop = TextAnalysis.stopwordList
    pairRel
      .filter(col("w1") =!= col("w2") &&
        !col("w1").isInCollection(stop) && !col("w2").isInCollection(stop))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
  }

  /** The undirected weighted co-occurrence graph, session-cached:
    * `edges(src, dst, w, tw, p)` — w = co-occurrence count (both
    * directions summed), tw = the source vertex's total edge weight,
    * p = (w·PScale) DIV tw — and `verts(tok)`. Self-pairs and the
    * suite's stopwords are excluded (TextRank's content-word window,
    * reference taxonomy [[TextAnalysis.stopwordList]]). Built entirely
    * from [[directedPairCounts]] — vocabulary-bounded work.
    */
  private[operators] def cooccurrenceGraph(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    (graphEdgesOf(s, d), graphVerts(s, d))

  private val graphEdgesOf = Artifacts.declare("edges")((s, d) =>
    graphEdges(directedPairCounts(s, d)))

  private val graphVerts = Artifacts.declare("verts")((s, d) =>
    graphEdgesOf(s, d).select(col("src").as("tok")).distinct())

  /** The undirected edge relation from ANY directed pair rollup
    * (lazy — callers materialize before iterating). tw via a window
    * OVER THE EDGE COUNTS (vocabulary-bounded), the same posture as
    * ev_markov's n_from — never a counts self-join.
    */
  def graphEdges(dpc: DataFrame): DataFrame = {
    val und = dpc.select(col("w1").as("src"), col("w2").as("dst"), col("n"))
      .unionAll(
        dpc.select(col("w2").as("src"), col("w1").as("dst"), col("n")))
    val bySrc = Window.partitionBy(col("src"))
    und.groupBy(col("src"), col("dst")).agg(sum(col("n")).as("w"))
      .withColumn("tw", sum(col("w")).over(bySrc))
      .withColumn("p", expr(s"(w * $PScale) DIV tw"))
  }

  /** Fixed-point PageRank over ANY prepared graph: `edges(src, dst,
    * tw, p)` with p the PScale-scaled transition probability, `verts
    * (tok)` the vertex set. The graph is undirected by construction
    * (every vertex has in-edges), so no dangling-mass term is needed.
    * Returns one row per vertex: `(tok, w_total, rank_fp, rank)`.
    *
    * Per iteration: r'(v) = base + (85 · Σ_{u~v} (r(u)·p(u→v)) DIV
    * PScale) DIV 100, with base = (15 · (RScale DIV N)) DIV 100 — all
    * longs, all floor divisions of non-negative values.
    *
    * Returns a MATERIALIZED local checkpoint: the loop's final internal
    * checkpoint is freed before returning, so no caller-invisible block
    * set outlives the call (callers that cache the result free it via
    * their own eviction path).
    */
  def pageRank(edges: DataFrame, verts: DataFrame): DataFrame = {
    val n = verts.count()
    require(n > 0, "pageRank needs a non-empty graph")
    val r0 = RScale / n
    val base = ((100 - DampingNum) * r0) / 100
    var ranks = verts.select(col("tok"), lit(r0).as("r"))
    // superseded iteration checkpoints are freed as soon as the next
    // one is materialized (localCheckpoint is eager): only the FINAL
    // rank table may outlive this call — leaked intermediates showed
    // up as GC pressure on every query benched after this family
    var prevCk: DataFrame = null
    for (i <- 1 to Iterations) {
      ranks = ranks
        .join(edges, ranks("tok") === edges("src"))
        .select(col("dst").as("tok"), expr(s"(r * p) DIV $PScale").as("c"))
        .groupBy(col("tok"))
        .agg(sum(col("c")).as("sc"))
        .select(col("tok"),
          (lit(base) + expr(s"($DampingNum * sc) DIV 100")).as("r"))
      // checkpoint every third round (and last): enough to keep the
      // plan iteration-sized, without paying a materialization job per
      // round — a 2-3-join lineage is well inside planner comfort
      if (i % 3 == 0 || i == Iterations) {
        ranks = ranks.localCheckpoint()
        if (prevCk != null) Artifacts.freeLocalCheckpoint(prevCk)
        prevCk = ranks
      }
    }
    val out = ranks
      .join(edges.select(col("src").as("tok"), col("tw")).distinct(), "tok")
      .select(col("tok"), col("tw").as("w_total"), col("r").as("rank_fp"),
        // rank_fp <= RScale = 1e12 < 2^53: the int->double is exact and
        // the one division by an exactly-representable power of ten is
        // IEEE-identical in both engines
        (col("r").cast(org.apache.spark.sql.types.DoubleType) /
          lit(RScale.toDouble)).as("rank"))
      .localCheckpoint()
    // the consumer's checkpoint is materialized — the loop's final
    // internal one (prevCk == ranks) can go now
    Artifacts.freeLocalCheckpoint(prevCk)
    out
  }

  /** The shared DuckDB CTE chain through `it{Iterations}(tok, r)` —
    * the graph CTEs, then the ten iterations UNROLLED as chained CTEs
    * (SQL has no driver loop); every step the same non-negative
    * integer floor divisions, so the ranks match bit-for-bit. N and r0
    * derive from the data via scalar subqueries, keeping the SQL
    * scale-agnostic like the Spark side's `verts.count()`.
    */
  private val rankCtesSql: String = {
    val stopList =
      TextAnalysis.stopwordList.map(w => s"'$w'").mkString("(", ",", ")")
    val baseSub =
      s"(SELECT ((100 - $DampingNum) * ($RScale // n)) // 100 FROM nn)"
    val iters = (1 to Iterations).map { i =>
      s"""it$i AS (
         |  SELECT ep.dst AS tok,
         |    $baseSub
         |      + ($DampingNum * CAST(SUM((it${i - 1}.r * ep.p) // $PScale) AS BIGINT)) // 100 AS r
         |  FROM it${i - 1} JOIN ep ON ep.src = it${i - 1}.tok
         |  GROUP BY ep.dst)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |pr AS (
       |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(t)),
       |            i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
       |        FROM toks WHERE len(t) >= 2) raw),
       |fpr AS (
       |  SELECT w1, w2 FROM pr
       |  WHERE w1 <> w2 AND w1 NOT IN $stopList AND w2 NOT IN $stopList),
       |und AS (
       |  SELECT w1 AS src, w2 AS dst FROM fpr
       |  UNION ALL
       |  SELECT w2 AS src, w1 AS dst FROM fpr),
       |e AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM und GROUP BY 1, 2),
       |ep AS (
       |  SELECT src, dst, w,
       |    CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS tw,
       |    (w * $PScale) // CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS p
       |  FROM e),
       |verts AS (SELECT DISTINCT src AS tok FROM ep),
       |nn AS (SELECT COUNT(*) AS n FROM verts),
       |it0 AS (
       |  SELECT tok, (SELECT $RScale // n FROM nn) AS r FROM verts),
       |$iters""".stripMargin
  }

  val taTextrankSql: String =
    s"""WITH $rankCtesSql
       |SELECT it$Iterations.tok AS tok, d.tw AS w_total,
       |  CAST(it$Iterations.r AS BIGINT) AS rank_fp,
       |  CAST(it$Iterations.r AS DOUBLE) / $RScale.0 AS rank
       |FROM it$Iterations
       |JOIN (SELECT DISTINCT src, tw FROM ep) d ON d.src = it$Iterations.tok
       |ORDER BY rank_fp DESC, tok
       |LIMIT $TopK""".stripMargin

  // ---------------------------------------------------------------------
  // ta_keyphrase — TextRank's phrase-collapse step.
  // ---------------------------------------------------------------------

  /** A phrase must recur this often to be reported (one-off adjacencies
    * are noise, not collocations).
    */
  val MinPhraseCount = 2L

  /** Keyphrases reported by the gated query. */
  val PhraseTopK = 20

  /** TextRank keyphrase extraction: adjacent token pairs that recur at
    * least [[MinPhraseCount]] times, scored by the SUM of their member
    * tokens' fixed-point ranks — the collapse step of the TextRank
    * paper (top unigrams that appear adjacent in the text merge into
    * multi-word keyphrases). Scoring stays in exact integer space
    * (two longs added), so the oracle hash-matches by construction.
    *
    * Scale shape: the phrase relation is the directed pair rollup
    * (vocabulary²-bounded, wordcount-shaped with map-side partials);
    * the two rank lookups are hash equi-joins of that tiny relation
    * against the vocabulary-sized rank table. Nothing rescans the
    * corpus — the graph AND the ranks come from the session-cached
    * fixed-point PageRank.
    */
  def taKeyphrase(s: SparkSession, d: String): DataFrame =
    keyphrases(directedPairCounts(s, d), cachedRanks(s, d))

  /** Serve keyphrases from ANY (pair rollup, rank table) pair — the
    * gated query's session-cached relations or a persisted rank
    * model's loaded ones (see [[keywords]]).
    */
  def keyphrases(pairs: DataFrame, ranks: DataFrame): DataFrame = {
    val phrases = pairs.filter(col("n") >= MinPhraseCount)
    val r1 = ranks.select(col("tok").as("w1"), col("rank_fp").as("r1"))
    val r2 = ranks.select(col("tok").as("w2"), col("rank_fp").as("r2"))
    phrases.join(r1, "w1").join(r2, "w2")
      .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"), col("n"),
        (col("r1") + col("r2")).as("score_fp"),
        // score_fp <= 2*RScale < 2^53: exact int->double, one exact
        // division — identical in both engines
        ((col("r1") + col("r2"))
          .cast(org.apache.spark.sql.types.DoubleType) /
          lit(RScale.toDouble)).as("score"))
      .orderBy(col("score_fp").desc, col("phrase"))
      .limit(PhraseTopK)
  }

  /** DuckDB mirror: the shared rank CTE chain, a HAVING-gated directed
    * pair rollup, and two joins back onto the final iteration.
    */
  val taKeyphraseSql: String =
    s"""WITH $rankCtesSql,
       |ph AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM fpr GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinPhraseCount)
       |SELECT ph.w1 || ' ' || ph.w2 AS phrase, ph.n AS n,
       |  CAST(a.r + b.r AS BIGINT) AS score_fp,
       |  CAST(a.r + b.r AS DOUBLE) / $RScale.0 AS score
       |FROM ph
       |JOIN it$Iterations a ON a.tok = ph.w1
       |JOIN it$Iterations b ON b.tok = ph.w2
       |ORDER BY score_fp DESC, phrase
       |LIMIT $PhraseTopK""".stripMargin

  // ---------------------------------------------------------------------
  // ta_summarize — per-document extractive summarization.
  // ---------------------------------------------------------------------

  /** Per-document extractive summarization — the TextRank paper's
    * headline application: each document's sentences form a graph
    * (edges weighted by shared non-stopword tokens), the SAME
    * fixed-point PageRank runs per document, and the top-ranked
    * sentence is the extract. A corpus datacard/preview pass at
    * training-data scale: "one representative sentence per document",
    * computed for every document in one job.
    *
    * Scale shape: every relation carries `doc_id` in its key — the
    * sentence-pair self-join is an equi-join on `(doc_id, token)` (a
    * per-document posting list; within-doc sentence counts bound the
    * quadratic term, never the corpus), and each rank iteration is one
    * hash join + rollup on doc-qualified keys, so per-document graphs
    * never interact. The per-document vertex count N (and thus r0 and
    * the teleport base) varies per document — folded onto the edge
    * rows at build time so the iterations stay join-light, the only
    * structural difference from the corpus-wide [[pageRank]].
    *
    * Vertices are sentences sharing at least one non-stop token with
    * another sentence of the SAME document; documents with no such
    * pair (single-sentence docs, all-disjoint sentences) fall back to
    * their first content sentence, flagged `ranked = false`.
    *
    * The per-document relations are BOUNDED by [[MaxSummarySentences]]
    * (only the first N NON-EMPTY sentences participate — empty
    * fragments from ellipses/abbreviation runs do not burn the
    * budget): the posting self-join forms pairs per (doc_id, token)
    * group, so without a cap ONE pathological 10k-sentence document
    * sharing a recurring token would generate ~5·10⁷ pairs inside a
    * single task — and the join key is (doc_id, tok), which AQE skew
    * splitting cannot split. The cap is deterministic (a per-doc
    * row_number over non-empty fragments, mirrored exactly in the
    * oracle SQL) and summary-faithful for real documents: a summary
    * extracted from a document's first 64 sentences is the documented
    * contract, the same lead-bias every extractive baseline carries.
    */
  def taSummarize(s: SparkSession, d: String): DataFrame =
    cachedSummaries(s, d).orderBy(col("doc_id"))

  private val cachedSummaries =
    Artifacts.declare("summ")((s, d) => summarize(documents(s, d)))

  /** Hard per-document sentence bound — the quadratic-task guard (see
    * [[taSummarize]]). C(64, 2) ≈ 2k pairs is the worst single
    * (doc, tok) group, at ANY corpus size.
    */
  val MaxSummarySentences = 64L

  /** Frame-parametric core of [[taSummarize]] over ANY
    * `(doc_id, text)` frame. Returns a MATERIALIZED local checkpoint
    * (one row per document — the same size class as every other cached
    * artifact); the rank loop's internal checkpoints are freed before
    * returning.
    */
  def summarize(docs: DataFrame): DataFrame = {
    val (lazyOut, finalCk) = summarizeBuild(docs)
    val out = lazyOut.localCheckpoint()
    // out is materialized — the loop's final rank checkpoint can go;
    // leaving it would pin a sentence-count-sized block set per
    // invocation for the session lifetime
    Artifacts.freeLocalCheckpoint(finalCk)
    out
  }

  /** The un-materialized build of [[summarize]]: the serve plan plus
    * the final rank checkpoint it references (the caller materializes
    * the serve, then frees the checkpoint). Split out so the plan-audit
    * suite can inspect the REAL serve plan — [[summarize]]'s returned
    * checkpoint scan would audit vacuously.
    */
  private[graft] def summarizeBuild(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val stop = TextAnalysis.stopwordList
    // content sentences: raw '.'-split position (stable id), ≥1
    // non-stop token
    // the pathological-document guard caps NON-EMPTY sentences, not
    // raw split positions: ellipsis/abbreviation runs produce empty
    // fragments that must not burn the budget (a 22-real-sentence doc
    // full of '...' would otherwise exhaust 64 positions); sent_id
    // stays the raw position (the stable id), the cap counts via a
    // per-doc row_number over the non-empty fragments — see
    // taSummarize's scaladoc
    val byDocPos = Window.partitionBy(col("doc_id"))
      .orderBy(col("sent_id"))
    val sents = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\.")))
      .select(col("doc_id"), col("pos").cast("long").as("sent_id"),
        trim(col("col")).as("sent"))
      .filter(col("sent") =!= "")
      .withColumn("cidx", row_number().over(byDocPos))
      .filter(col("cidx") <= MaxSummarySentences)
      .drop("cidx")
      .withColumn("toks", array_distinct(filter(
        graft.functions.tokens(col("sent")),
        t => !t.isInCollection(stop))))
      .filter(size(col("toks")) >= 1)
    val postings = sents
      .select(col("doc_id"), col("sent_id"), explode(col("toks")).as("tok"))
    // shared-token edges: per-doc posting-list self-join; w = # common
    // distinct non-stop tokens, both directions
    // the posting self-join is the op's one corpus-heavy stage —
    // materialize it ONCE; everything downstream (orientations, the
    // teleport table, the transition weights) derives from the
    // checkpoint instead of re-running the join per consumer
    val pairs = postings.as("a")
      .join(postings.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") === col("b.tok")
          && col("a.sent_id") < col("b.sent_id"))
      .groupBy(col("a.doc_id").as("doc_id"), col("a.sent_id").as("sa"),
        col("b.sent_id").as("sb"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val und = pairs.select(col("doc_id"), col("sa").as("src"),
      col("sb").as("dst"), col("w"))
      .unionAll(pairs.select(col("doc_id"), col("sb").as("src"),
        col("sa").as("dst"), col("w")))
    val byDocSrc = Window.partitionBy(col("doc_id"), col("src"))
    // per-doc teleport (r0, base) is joined onto the edge rows ONCE at
    // build time (constant per doc) — so the rank iterations need NO
    // per-iteration join against a per-doc teleport table; at 100×
    // that join was the single biggest cost of the loop
    val db = und.select(col("doc_id"), col("src")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .select(col("doc_id"), expr(s"$RScale DIV n").as("r0"),
        expr(s"((100 - $DampingNum) * ($RScale DIV n)) DIV 100").as("base"))
    val edges = und
      .withColumn("tw", sum(col("w")).over(byDocSrc))
      .withColumn("p", expr(s"(w * $PScale) DIV tw"))
      .join(db, "doc_id")
      .localCheckpoint()
    // edges is materialized — the pair join's blocks can go now
    Artifacts.freeLocalCheckpoint(pairs)
    var ranks = edges
      .groupBy(col("doc_id"), col("src").as("sent_id"))
      .agg(min(col("r0")).as("r"))
    // free superseded checkpoints eagerly — only the final rank table
    // may outlive this call (see [[pageRank]])
    var prevCk: DataFrame = null
    for (i <- 1 to Iterations) {
      ranks = ranks
        .withColumnRenamed("sent_id", "src")
        .join(edges, Seq("doc_id", "src"))
        .select(col("doc_id"), col("dst").as("sent_id"),
          expr(s"(r * p) DIV $PScale").as("c"), col("base"))
        .groupBy(col("doc_id"), col("sent_id"))
        .agg(sum(col("c")).as("sc"), min(col("base")).as("base"))
        .select(col("doc_id"), col("sent_id"),
          (col("base") + expr(s"($DampingNum * sc) DIV 100")).as("r"))
      if (i % 3 == 0 || i == Iterations) {
        ranks = ranks.localCheckpoint()
        if (prevCk != null) Artifacts.freeLocalCheckpoint(prevCk)
        prevCk = ranks
      }
    }
    // the serve below references only the final rank checkpoint and
    // the (re-derived) sentence relation
    Artifacts.freeLocalCheckpoint(edges)
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("r").desc, col("sent_id"))
    val ranked = ranks
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") === 1)
      .join(sents.select(col("doc_id"), col("sent_id"), col("sent")),
        Seq("doc_id", "sent_id"))
      .select(col("doc_id"), col("sent_id").as("best_sent"),
        col("sent").as("summary"), col("r").as("rank_fp"),
        lit(true).as("ranked"))
    // fallback: docs with content sentences but no shared-token pair
    val byDocSent = Window.partitionBy(col("doc_id")).orderBy(col("sent_id"))
    val fallback = sents
      .join(ranked.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("rn", row_number().over(byDocSent))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sent_id").as("best_sent"),
        col("sent").as("summary"), lit(0L).as("rank_fp"),
        lit(false).as("ranked"))
    (ranked.unionAll(fallback), prevCk)
  }

  /** DuckDB mirror: the same sentence split (raw position ids), the
    * per-doc posting self-join, ten unrolled per-doc iterations with
    * the per-doc teleport joined in, and the same argmax/fallback
    * union.
    */
  val taSummarizeSql: String = {
    val stopList =
      TextAnalysis.stopwordList.map(w => s"'$w'").mkString("(", ",", ")")
    val iters = (1 to Iterations).map { i =>
      s"""it$i AS (
         |  SELECT s.doc_id, s.dst AS sent_id,
         |    db.base + ($DampingNum * s.sc) // 100 AS r
         |  FROM (
         |    SELECT e.doc_id, e.dst,
         |      CAST(SUM((it${i - 1}.r * e.p) // $PScale) AS BIGINT) AS sc
         |    FROM it${i - 1}
         |    JOIN edges e ON e.doc_id = it${i - 1}.doc_id
         |                AND e.src = it${i - 1}.sent_id
         |    GROUP BY e.doc_id, e.dst) s
         |  JOIN db ON db.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\.') AS a
       |  FROM documents),
       |se0 AS (
       |  SELECT doc_id, e.i - 1 AS sent_id, trim(e.s) AS sent,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e.i) AS cidx
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(a) + 1),
       |            i -> struct_pack(i := i, s := a[i]))) AS e
       |        FROM raw) q
       |  WHERE trim(e.s) <> ''),
       |se AS (
       |  SELECT doc_id, sent_id, sent FROM se0
       |  WHERE cidx <= $MaxSummarySentences),
       |sents AS (
       |  SELECT doc_id, sent_id, sent,
       |    list_distinct(list_filter(
       |      list_filter(regexp_split_to_array(sent, '\\s+'), x -> x <> ''),
       |      x -> x NOT IN $stopList)) AS toks
       |  FROM se
       |  WHERE len(list_distinct(list_filter(
       |      list_filter(regexp_split_to_array(sent, '\\s+'), x -> x <> ''),
       |      x -> x NOT IN $stopList))) >= 1),
       |postings AS (
       |  SELECT doc_id, sent_id, unnest(toks) AS tok FROM sents),
       |pairs AS (
       |  SELECT a.doc_id, a.sent_id AS sa, b.sent_id AS sb,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM postings a
       |  JOIN postings b ON a.doc_id = b.doc_id AND a.tok = b.tok
       |                 AND a.sent_id < b.sent_id
       |  GROUP BY 1, 2, 3),
       |und AS (
       |  SELECT doc_id, sa AS src, sb AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT doc_id, sb AS src, sa AS dst, w FROM pairs),
       |edges AS (
       |  SELECT doc_id, src, dst, w,
       |    (w * $PScale)
       |      // CAST(SUM(w) OVER (PARTITION BY doc_id, src) AS BIGINT) AS p
       |  FROM und),
       |db AS (
       |  SELECT doc_id, $RScale // COUNT(*) AS r0,
       |    ((100 - $DampingNum) * ($RScale // COUNT(*))) // 100 AS base
       |  FROM (SELECT DISTINCT doc_id, src FROM edges) v
       |  GROUP BY doc_id),
       |it0 AS (
       |  SELECT v.doc_id, v.src AS sent_id, db.r0 AS r
       |  FROM (SELECT DISTINCT doc_id, src FROM edges) v
       |  JOIN db ON db.doc_id = v.doc_id),
       |$iters,
       |ranked AS (
       |  SELECT w.doc_id, w.sent_id AS best_sent, s.sent AS summary,
       |    CAST(w.r AS BIGINT) AS rank_fp, TRUE AS ranked
       |  FROM (SELECT doc_id, sent_id, r,
       |          ROW_NUMBER() OVER (PARTITION BY doc_id
       |            ORDER BY r DESC, sent_id) AS rn
       |        FROM it$Iterations) w
       |  JOIN sents s ON s.doc_id = w.doc_id AND s.sent_id = w.sent_id
       |  WHERE w.rn = 1),
       |fallback AS (
       |  SELECT doc_id, sent_id AS best_sent, sent AS summary,
       |    CAST(0 AS BIGINT) AS rank_fp, FALSE AS ranked
       |  FROM (SELECT doc_id, sent_id, sent,
       |          ROW_NUMBER() OVER (PARTITION BY doc_id
       |            ORDER BY sent_id) AS rn
       |        FROM sents
       |        WHERE doc_id NOT IN (SELECT doc_id FROM ranked)) q
       |  WHERE rn = 1)
       |SELECT * FROM ranked
       |UNION ALL
       |SELECT * FROM fallback
       |ORDER BY doc_id""".stripMargin
  }

  val gated: Seq[Gated] = Seq(
    Gated("ta_textrank",  taTextrank,  taTextrankSql),
    Gated("ta_keyphrase", taKeyphrase, taKeyphraseSql),
    Gated("ta_summarize", taSummarize, taSummarizeSql),
  )
}
