package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Gated
import graft.sources.Tables._

/** Second dedup family: span-level duplicate detection (the
  * suffix-array-style "duplicated substring" pass of Lee et al.,
  * *Deduplicating Training Data Makes Language Models Better*) and
  * connected-components duplicate CLUSTERS (the union-find pass every
  * production corpus dedup — FineWeb, Dolma — runs over its near-dup
  * pairs, instead of the pair-local "drop the higher id" rule).
  *
  * The reference engine has no analogue (its only dedup surface is
  * exact key grouping via MapReduce, `dfs/wordcountjob.go:16-39`);
  * both operators are part of the prompt-mandated training-data
  * pipeline surface.
  */
object Dedup2 {

  /** Token length of the fixed window used for span detection. Lee et
    * al. use 50 BPE tokens; 10 whitespace tokens plays the same role
    * on this corpus's shorter documents.
    */
  val SpanWindow = 10

  /** Duplicated-span detection: every position whose [[SpanWindow]]-token
    * window occurs more than once in the corpus (in ANY document —
    * including again in the same one) is a duplicated position; maximal
    * runs of consecutive duplicated positions are the duplicated spans,
    * reported as token ranges `[span_start, span_end]` (1-based,
    * inclusive). Top-100 by span length.
    *
    * Shape: one codegen'd loop per row produces positional window
    * hashes (no O(n²) HOF re-evaluation), then the duplicated-window
    * marking (partial-aggregated groupBy on the hash + skew-splittable
    * join-back) and the per-doc gaps-and-islands coalescing. Nothing
    * quadratic is ever formed: a window repeated k times costs k rows,
    * not k² pairs, which is what makes this the 100 TB form of
    * substring dedup (the suffix-array original is a single-machine
    * algorithm). A boilerplate window repeated millions of times
    * collapses to per-task partial counts before the exchange and AQE
    * splits the join-back — pinned by Dedup2Spec's planted mega-window
    * case and PlanAuditSpec.
    */
  def ddSpans(s: SparkSession, d: String): DataFrame =
    duplicatedSpansFromWin(cachedWinRel(s, d), SpanWindow)
      .orderBy(col("span_len").desc, col("doc_id"), col("span_start"))
      .limit(100)

  /** Frame-parametric core of [[ddSpans]]: all maximal duplicated spans
    * (unordered, unlimited) over ANY `(doc_id, text)` frame — shared by
    * the gated query and the `graft.api.Corpus.duplicatedSpans` facade.
    */
  /** The positional `(doc_id, pos, h)` window-hash relation shared by
    * [[duplicatedSpans]] and [[spansRemoved]] (1-based positions,
    * widened to long to match the oracle's BIGINT).
    */
  private def winRel(docs: DataFrame, window: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(graft.functions.WordShingleHashesExpr
          .wordShingleHashesNative(col("text"), window))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
        col("h"))

  /** Session-scoped cache of the full-corpus positional window-hash
    * relation `(doc_id, pos, h)` at [[SpanWindow]] — the substring-dedup
    * INDEX both span gates derive from ([[ddSpans]] marks duplicated
    * positions over it; [[ddSpansApply]] picks kept occurrences over
    * it), and which each gate's own plan reads TWICE (once for the
    * per-hash aggregate, once for the join-back probe). Before this
    * memo the suite ran the corpus tokenize + rolling window-hash
    * kernel four times for one relation; a production substring-dedup
    * pass materializes these positional hashes once (Lee et al.'s
    * suffix-array stand-in) and runs both the report and the removal
    * from them. Values are `localCheckpoint`ed and identical by
    * construction (same kernel over the same scan), so both oracles
    * are unchanged. Lifetime guards live in [[Artifacts]].
    */
  private[operators] val cachedWinRel = Artifacts.declare("spanwin")(
    (s, d) => winRel(documents(s, d), SpanWindow))

  def duplicatedSpans(docs: DataFrame,
      window: Int = SpanWindow): DataFrame =
    duplicatedSpansFromWin(winRel(docs, window), window)

  /** [[duplicatedSpans]] from an already-built positional window-hash
    * relation — lets the gated query serve from [[cachedWinRel]].
    */
  private def duplicatedSpansFromWin(win: DataFrame,
      window: Int): DataFrame = {
    // duplicated-window marking as a partial-aggregated groupBy joined
    // back on the hash, NOT `count over (partition by h)`: a boilerplate
    // window repeated 10⁷× would land in ONE AQE-unsplittable window
    // sort partition, while the aggregate's map-side partials collapse
    // it per-task and AQE's skew-join splits the join-back probe side
    val occ = win.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
    val dup = win.join(occ, "h")
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - row_number) within a doc
    val isl = dup.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    isl.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (window - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + window).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_len"), col("n_windows"))
  }

  /** DuckDB mirror: the two same-length `unnest`s in one SELECT zip
    * positionally, giving (pos, window-hash) rows; the window hash is
    * the same first-8-md5-bytes value as
    * [[graft.functions.WordShingleHashesExpr]] (unsigned vs signed
    * reinterpretation of the same 64 bits induces identical equality
    * classes).
    */
  /** The `toks` + positional window-hash `w` CTEs shared by the span
    * oracles ([[ddSpansSql]], [[ddSpansApplySql]]) — `src`
    * parameterizes the `(doc_id, text)` source relation so pipeline
    * compositions can span-dedup a CLEANED intermediate.
    */
  private[operators] def spanWindowCtesSqlFrom(w: Int,
      src: String): String = {
    val cat = (0 until w).map(j =>
      if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM $src),
       |w AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(t) - ${w - 2})) AS pos,
       |    unnest(list_transform(range(1, len(t) - ${w - 2}),
       |      i -> CAST(('0x' || substr(md5($cat), 1, 16)) AS UBIGINT))) AS h
       |  FROM toks WHERE len(t) >= $w)""".stripMargin
  }

  private def spanWindowCtesSql(w: Int): String =
    spanWindowCtesSqlFrom(w, "documents")

  /** The full spans-APPLY CTE chain through relation `cleaned(doc_id,
    * t, kept)` — shared by [[ddSpansApplySql]] and the pipeline
    * compositions ([[Pipeline.pipeScrubSql]]).
    */
  private[operators] def spansApplyCtesSqlFrom(w: Int,
      src: String): String =
    s"""${spanWindowCtesSqlFrom(w, src)},
       |keep AS (
       |  SELECT h, MIN({'d': doc_id, 'p': pos}) AS k
       |  FROM w GROUP BY h HAVING COUNT(*) > 1),
       |marked AS (
       |  SELECT doc_id, pos FROM w JOIN keep USING (h)
       |  WHERE NOT (doc_id = k.d AND pos = k.p)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM marked),
       |ivr AS (
       |  SELECT doc_id, MIN(pos) AS lo, MAX(pos) + ${w - 1} AS hi
       |  FROM isl GROUP BY doc_id, grp),
       |ivs AS (
       |  SELECT doc_id, list_sort(list(struct_pack(lo := lo, hi := hi))) AS iv
       |  FROM ivr GROUP BY doc_id),
       |cleaned AS (
       |  SELECT t.doc_id, t.t,
       |    list_transform(
       |      list_filter(range(1, len(t.t) + 1),
       |        p -> len(list_filter(s.iv, i -> p >= i.lo AND p <= i.hi)) = 0),
       |      p -> t.t[p]) AS kept
       |  FROM toks t JOIN ivs s USING (doc_id))""".stripMargin

  val ddSpansSql: String = {
    val w = SpanWindow
    s"""WITH ${spanWindowCtesSql(w)},
       |dup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS occ FROM w) z
       |  WHERE occ > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${w - 1} AS span_end,
       |  MAX(pos) - MIN(pos) + $w AS span_len, COUNT(*) AS n_windows
       |FROM isl
       |GROUP BY doc_id, grp
       |ORDER BY span_len DESC, doc_id, span_start
       |LIMIT 100""".stripMargin
  }

  /** Span-level dedup APPLY: the transform production pipelines run
    * after [[ddSpans]]'s detection — remove every duplicated
    * [[SpanWindow]]-token window except its FIRST occurrence in corpus
    * order (min (doc_id, pos) across all occurrences; Lee et al. §4's
    * "except one" rule), and emit the cleaned documents. One row per
    * AFFECTED doc: original/new token counts, tokens removed, and the
    * cleaned text (kept tokens re-joined).
    *
    * Where duplicated regions align across docs, the whole region of
    * the lowest-id doc survives and the copies collapse — the actual
    * byte-reduction step of substring dedup, not just the report.
    *
    * Shape: the same linear window-hash relation as [[ddSpans]] (one
    * codegen'd loop per row); the kept-occurrence choice is an
    * order-free `min(struct(doc_id, pos))` per hash — partial-
    * aggregated, so a boilerplate window repeated 10⁷× collapses to
    * per-task partials, never a window sort; the join-back probe side
    * is AQE-skew-splittable. The removal itself is a per-doc map-side
    * HOF over the marked starts (docs carry only their OWN marked
    * positions — bounded by doc length, never corpus-sized). Nothing
    * quadratic; linear in corpus bytes end to end.
    */
  def ddSpansApply(s: SparkSession, d: String): DataFrame =
    spansRemovedFromWin(documents(s, d), cachedWinRel(s, d), SpanWindow)
      .orderBy(col("doc_id"))

  /** Frame-parametric core of [[ddSpansApply]] over ANY `(doc_id,
    * text)` frame — the form `graft.api.Corpus` exposes.
    *
    * The rebuild re-tokenizes with `\\p{javaWhitespace}+`, the Java
    * regex class that IS `Character.isWhitespace` — the rule
    * [[graft.functions.WordShingleHashesExpr]] derived the marked
    * POSITIONS from. A `\\s+` rebuild (ASCII-only) would misalign the
    * positions on exotic whitespace (U+2003 etc.) and silently remove
    * the wrong tokens; with the aligned tokenizer the engine is
    * internally consistent on ANY input, and the oracle equivalence
    * carries the same documented ASCII-whitespace-corpus caveat as
    * every other text operator ([[graft.functions.RepetitionStatsExpr]]'s
    * note).
    */
  def spansRemoved(docs: DataFrame,
      window: Int = SpanWindow): DataFrame =
    spansRemovedFromWin(docs, winRel(docs, window), window)

  /** [[spansRemoved]] from an already-built positional window-hash
    * relation of the SAME `docs` frame — the gated query passes
    * [[cachedWinRel]]; the frame-parametric form above builds it
    * in-plan.
    */
  private def spansRemovedFromWin(docs: DataFrame, win: DataFrame,
      window: Int): DataFrame = {
    // first occurrence of each duplicated window, as an order-free
    // struct argmin (same discipline as ddCanonical's argmax)
    val keep = win.groupBy(col("h"))
      .agg(min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("k"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
    val marked = win.join(keep, "h")
      .filter(!(col("doc_id") === col("k.d") && col("pos") === col("k.p")))
      .select(col("doc_id"), col("pos"))
    // coalesce marked starts into cover intervals with the same
    // gaps-and-islands pass ddSpans uses (per-doc window, bounded by
    // doc length): the per-token rebuild then scans a handful of
    // intervals, not every marked start — a fully-boilerplate 10k-token
    // doc is ONE interval, where a start-list `exists` would be
    // 10k × 10k lambda evaluations inside one row
    val isl = marked.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val ivs = isl.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("lo"),
        (max(col("pos")) + (window - 1)).as("hi"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("lo"), col("hi")))).as("iv"))
    // every doc here has a marked window, so size(__t) >= window >= 2
    // and sequence(1, size) is always ascending
    docs.join(ivs, "doc_id")
      .withColumn("__t",
        filter(split(col("text"), "\\p{javaWhitespace}+"),
          t => length(t) > 0))
      .withColumn("__kept", expr(
        """transform(
          |  filter(sequence(1, size(__t)),
          |    p -> NOT exists(iv, i -> p >= i.lo AND p <= i.hi)),
          |  p -> element_at(__t, p))""".stripMargin))
      .select(col("doc_id"),
        size(col("__t")).cast(LongType).as("orig_len"),
        size(col("__kept")).cast(LongType).as("new_len"),
        (size(col("__t")) - size(col("__kept"))).cast(LongType)
          .as("n_removed"),
        array_join(col("__kept"), " ").as("cleaned_text"))
  }

  /** DuckDB mirror of [[ddSpansApply]]: the [[ddSpansSql]] window
    * relation, the struct argmin (DuckDB orders ROWs field-by-field
    * like Spark orders structs), and the same position-filter rebuild
    * (`range` end-exclusive ↔ Spark `sequence` inclusive; both index
    * token lists 1-based here).
    */
  val ddSpansApplySql: String = {
    val w = SpanWindow
    s"""WITH ${spansApplyCtesSqlFrom(w, "documents")}
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS orig_len,
       |  CAST(len(kept) AS BIGINT) AS new_len,
       |  CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
       |FROM cleaned
       |ORDER BY doc_id""".stripMargin
  }

  /** Near-dup pairs at/above this exact-Jaccard threshold become the
    * edges of the duplicate graph.
    */
  val ClusterThreshold = 0.8

  /** Propagation rounds before [[connectedComponents]] gives up on
    * min-label propagation and re-runs as star contraction. Near-dup
    * components are near-cliques that converge in 2–3 rounds, so the
    * cap never triggers there; a cap-triggering graph has diameter
    * ≥ [[PropagationRoundCap]] (chains — span overlaps,
    * successive-crawl drift), exactly where contraction's O(log n)
    * rounds beat propagation's O(diameter).
    */
  val PropagationRoundCap = 8

  /** Connected components of an undirected edge list.
    *
    * @param edges two long columns `a_id`, `b_id`; undirected.
    * @return one row per vertex: `id`, `comp` (min vertex id in its
    *         component).
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponents(edges, DriverCcMaxEdges)

  private[operators] def connectedComponents(edges: DataFrame,
      cap: Long): DataFrame = {
    // Two-tier dispatch, the same small-side judgment a broadcast join
    // makes: the DEDUPLICATED duplicate graph is orders of magnitude
    // smaller than the corpus (edges exist only between near-identical
    // pairs), and every distributed CC round costs 2-3 driver-scheduled
    // jobs regardless of size — a 920-edge semantic graph measured
    // 11.6 s through the iterative arm (8 capped propagation rounds +
    // star fallback, pure per-round overhead) vs <0.5 s through a
    // driver union-find. The cap probe runs `limit(cap+1)` on the RAW
    // plan: at or under the cap the collected head IS the entire edge
    // set — ONE (short-circuiting) scan, no materialization, and the
    // driver union-find answers from exactly those rows. That keeps
    // the common driver-arm case (tiny thresholded graph, cheap edge
    // plan) at its minimal latency. Only an over-cap graph pays a
    // localCheckpoint — so the distributed arm's propagation rounds
    // ride materialized blocks instead of re-running the (typically
    // expensive shingle/LSH self-join) edge lineage per round's `und`
    // build (the round-9 finding); its total lineage cost is one
    // limit-bounded probe scan plus exactly one full materialization.
    // At or under the cap the collected array (≤ ~64 MB of long pairs,
    // the broadcast-threshold ballpark) is solved exactly on the
    // driver; both arms label every vertex with its component's min
    // id, so the cutover is result-invisible (spec-pinned equality).
    // cast keeps the entry type-agnostic like the distributed arms
    // were (the public clusterize contract admits handmade int-typed
    // edge frames; getLong on an IntegerType row would throw)
    val e = edges.select(col("a_id").cast("long").as("a_id"),
      col("b_id").cast("long").as("b_id"))
    val head = e.limit(cap.toInt + 1).collect()
    if (head.length <= cap) unionFind(head, e.sparkSession)
    else {
      val ck = e.localCheckpoint()
      val out = connectedComponentsInstrumented(ck)._1
      Artifacts.freeLocalCheckpoint(ck)
      out
    }
  }

  /** Edge-count ceiling for the driver union-find arm of
    * [[connectedComponents]]. The collected form is BOXED `Row`s
    * (~100 B/edge with the two boxed longs — an order of magnitude
    * over the 16 B of raw payload), so 2M edges is ~200 MB of
    * transient driver allocation before the primitive arrays build:
    * safe on any analytics-sized driver, and still far above any
    * thresholded duplicate graph the gate corpora produce. Above the
    * cap the distributed arm runs; the cap is on the THRESHOLDED
    * duplicate graph, not the corpus, so a 100 TB dedup with a sane
    * threshold usually still lands under it (and degrades to the
    * distributed arm, not to failure, when it doesn't).
    */
  val DriverCcMaxEdges: Long = 1L << 21

  /** Exact driver-side connected components: path-halving union-find
    * over the collected edge array, then one pass pinning each root to
    * its component's min member id. O(E α(V)) and allocation-light
    * (primitive arrays after an id-compaction map). Same contract as
    * the distributed arm: one `(id, comp)` row per vertex that appears
    * in an edge, comp = min member id.
    */
  private[operators] def connectedComponentsDriver(edges: DataFrame): DataFrame =
    unionFind(edges.select(col("a_id"), col("b_id")).collect(),
      edges.sparkSession)

  private def unionFind(pairs: Array[org.apache.spark.sql.Row],
      spark: SparkSession): DataFrame = {
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def ix(v: Long): Int = idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    val ea = new Array[Int](pairs.length)
    val eb = new Array[Int](pairs.length)
    var i = 0
    while (i < pairs.length) {
      ea(i) = ix(pairs(i).getLong(0)); eb(i) = ix(pairs(i).getLong(1)); i += 1
    }
    val parent = Array.tabulate(ids.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < ea.length) {
      val ra = find(ea(i)); val rb = find(eb(i))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    val minId = new Array[Long](ids.size)
    java.util.Arrays.fill(minId, Long.MaxValue)
    i = 0
    while (i < ids.size) {
      val r = find(i)
      if (ids(i) < minId(r)) minId(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](ids.size)
    i = 0
    while (i < ids.size) { out(i) = (ids(i), minId(find(i))); i += 1 }
    import spark.implicits._
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("id", "comp")
  }

  /** The DISTRIBUTED components arm, plus (total rounds, whether the
    * star fallback fired) — the spec hook for the cap-and-fallback
    * behavior. Iterated min-label propagation — `comp(v) ←
    * min(comp(v), min over neighbors comp(u))` — with an AUTOMATIC
    * fallback to [[connectedComponentsStar]] if propagation has not
    * converged within [[PropagationRoundCap]] rounds. Propagation is
    * deterministic (min is order-free) and converges in rounds =
    * graph diameter with better constants per round (one groupBy +
    * one join, a scalar-aggregate convergence check); near-dup
    * components are near-cliques, so 2–3 rounds in practice and the
    * fallback never fires. Chain-shaped graphs regress propagation to
    * diameter-many rounds — there the cap trips and star contraction
    * finishes in O(log n) rounds (spec-pinned on a 1024-node chain).
    * Both variants label every vertex with its component's min id, so
    * the fallback is result-invisible. Each propagation round is one
    * shuffle (the groupBy); `localCheckpoint` cuts the growing
    * lineage so round N's plan doesn't replay rounds 1..N-1 (on a
    * cluster, `checkpoint` to reliable storage instead).
    */
  private[operators] def connectedComponentsInstrumented(
      edges: DataFrame): (DataFrame, Int, Boolean) = {
    import org.apache.spark.sql.types.DecimalType
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist()
    // half-round head start: comp₀(v) = min(v, direct neighbors) — a
    // plain groupBy on the edge list (no join), which already CONVERGES
    // near-cliques (the shape near-dup components have), so the loop
    // below usually runs one verification round instead of two
    // propagation rounds.
    var comp = und.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
      .localCheckpoint()
    // Convergence via the label-sum invariant: `next` takes a min over
    // a set CONTAINING each vertex's old label, so labels never
    // increase, and Σcomp is strictly decreasing until fixpoint —
    // equal sums ⇔ no vertex moved. One scalar aggregate per round
    // instead of a self-join + isEmpty job. DECIMAL(38,0) keeps the
    // sum exact out to ~10²⁶ (id 10¹³ × 10¹³ vertices) — overflow
    // would only risk a false a==b, and only the CHECK is decimal;
    // per-row label math stays long.
    // sum over ZERO rows is SQL-null (the empty-graph case: no pairs
    // cleared the threshold) — map it to 0 so the first-round compare
    // converges instead of NPE-ing
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(comp)
    var converged = false
    var rounds = 0
    while (!converged && rounds < PropagationRoundCap) {
      val viaNbr = und.join(comp, und("dst") === comp("id"))
        .select(und("src").as("id"), col("comp"))
      val next = comp.union(viaNbr)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      comp = next
      rounds += 1
    }
    und.unpersist()
    if (converged) (comp, rounds, false)
    else {
      // high-diameter graph: propagation would need ~diameter rounds;
      // restart as star contraction (same (id, comp=min) contract)
      val (starComp, starRounds) = starContract(edges)
      (starComp, rounds + starRounds, true)
    }
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., *Connected Components in MapReduce
    * and Beyond*) — the logarithmic-round alternative to
    * [[connectedComponents]]'s label propagation, whose round count is
    * the graph DIAMETER: near-dup graphs are near-cliques (2–3 rounds,
    * propagation wins on constants), but chain-shaped graphs (span
    * overlaps, successive-crawl drift) have diameter up to n, where
    * contraction's O(log n) rounds are the difference between a job
    * that finishes and one that doesn't.
    *
    *  - large-star(u): every neighbor v > u re-wires to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u, over edges oriented u > v): every smaller
    *    neighbor — and u itself — re-wires to m = min of them.
    *
    * Both are one groupBy + one join on the edge list (edges only —
    * no per-vertex state), every re-wire points DOWNWARD, and the
    * fixpoints of the composition are exactly unions of stars rooted
    * at component minima. Convergence is a sound set-equality check
    * (count + left-anti emptiness on the canonically-oriented,
    * deduped edge set), one job per round across O(log n) rounds.
    * Same contract as [[connectedComponents]]: `(id, comp)` with comp
    * = min member id.
    */
  def connectedComponentsStar(edges: DataFrame): DataFrame =
    starContract(edges)._1

  /** [[connectedComponentsStar]] plus the round count (spec hook: a
    * 1024-node chain must converge in O(log n), not diameter, rounds).
    */
  private[operators] def starContract(edges: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input oriented u > v throughout (both phases preserve it)
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var e = edges
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    var converged = e.isEmpty
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // sound set equality: same cardinality and nothing new — both
      // sides are deduped canonical orientations
      converged = next.count() == e.count() &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = next
      rounds += 1
    }
    // stars: every leaf u points at its component min v; centers are
    // the targets that are never sources
    val leaves = e.select(col("u").as("id"), col("v").as("comp"))
    val centers = e.select(col("v")).distinct()
      .join(e.select(col("u")).distinct(),
        col("v") === col("u"), "left_anti")
      .select(col("v").as("id"), col("v").as("comp"))
    (leaves.union(centers), rounds)
  }

  /** Duplicate clusters: connected components over the exact-Jaccard
    * near-dup graph at ≥ [[ClusterThreshold]]. One row per clustered
    * doc with its component id (min doc_id in the cluster — the
    * canonical survivor), the cluster size, and the canonical flag.
    * The pair-local rule ([[Dedup.ddApply]]'s "drop the higher id of
    * each pair") over-drops on chains A~B~C where A≁C; components keep
    * exactly one doc per transitive group. At scale the edge list
    * comes from [[Dedup.nearDupCandidates]] (banded LSH) instead of
    * the exact quadratic join — the clustering is source-agnostic.
    */
  /** The exact-Jaccard edge list at ≥ [[ClusterThreshold]], shared by
    * [[ddCluster]] and [[ddCanonical]].
    */
  private def ddCluster_edges(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairsAll(s, d)
      .filter(col("jaccard") >= ClusterThreshold)
      .select(col("a_id"), col("b_id"))

  def ddCluster(s: SparkSession, d: String): DataFrame =
    clusterize(ddCluster_edges(s, d))

  /** Duplicate clusters, SCALE-PATH form: the same clustering as
    * [[ddCluster]] but with edges from the banded-LSH signature
    * estimate instead of the exact quadratic shingle join — the
    * composition that runs at 100 TB, where a corpus whose docs are
    * duplicated k times makes the exact pair join blow up k²-fold (the
    * 10× replica probe measured 56 s vs 2.4 s for the exact form at
    * sf0.1). Mirrors the [[Dedup.ddApply]]/[[Dedup.ddApplyLsh]] split:
    * the exact form certifies the clustering rule, this one certifies
    * the scalable edge source.
    */
  def ddClusterLsh(s: SparkSession, d: String): DataFrame =
    clusterize(Dedup.cachedCandidates(s, d)
      .filter(col("est_jaccard") >= ClusterThreshold)
      .select(col("a_id"), col("b_id")))

  /** Duplicate clusters, EXACT-FIRST form: collapse byte-identical docs
    * before the banded-LSH candidate join, cluster the survivors, and
    * re-expand the exact groups as star edges
    * ([[Dedup.nearDupEdgesExactFirst]]) — the edge-build order a
    * crawl-mirror corpus needs at 100 TB, where exact-duplicate cliques
    * otherwise explode ~k² inside the banding (the CC ladder's k=80 rung:
    * 262 s raw vs the distinct-doc cost with the pre-pass; SCALING.md).
    * Cross-engine losslessness proof: the DuckDB oracle is the RAW
    * LSH clustering ([[ddClusterLshSql]]) — hash-equality of the two
    * paths' components IS the claim that the collapse loses nothing.
    */
  def ddClusterXf(s: SparkSession, d: String): DataFrame =
    clusterize(Dedup.nearDupEdgesExactFirst(documents(s, d),
        sigs = Some(Dedup.cachedSignatures(s, d)))
      .filter(col("est_jaccard") >= ClusterThreshold)
      .select(col("a_id"), col("b_id")))

  /** Components + per-cluster bookkeeping over an `(a_id, b_id)` edge
    * list: one row per clustered doc with its component id, cluster
    * size, and canonical flag (id == component min). Public — this is
    * the edge-source-agnostic clustering the `graft.api.Corpus` facade
    * exposes over caller-supplied pair frames. `idName` names the
    * output id column (`doc_id` for documents, `vec_id` for the
    * semantic-dedup forms).
    */
  def clusterize(edges: DataFrame, idName: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(edges)
    val sizes = comp.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(broadcast(sizes), "comp")
      .select(col("id").as(idName), col("comp"), col("cluster_size"),
        (col("id") === col("comp")).as("is_canonical"))
      .orderBy(col("comp"), col(idName))
  }

  /** The recursive-CTE min-reachable-id fixpoint + final projection,
    * shared by every clustering oracle; expects a CTE named `edges`
    * with `(a_id, b_id)` in scope. `UNION` dedups, so the closure
    * terminates.
    */
  private def componentsTailSql(outId: String): String =
    s"""und AS (SELECT a_id AS src, b_id AS dst FROM edges
       |        UNION ALL SELECT b_id, a_id FROM edges),
       |nodes AS (SELECT DISTINCT src AS id FROM und),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.src AS id, reach.r
       |  FROM reach JOIN und u ON u.dst = reach.id),
       |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |sz AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
       |SELECT c.id AS $outId, c.comp, sz.cluster_size,
       |  c.id = c.comp AS is_canonical
       |FROM comp c JOIN sz USING (comp)
       |ORDER BY comp, $outId""".stripMargin

  /** DuckDB mirror: the min-reachable-id fixpoint as a recursive CTE
    * (`UNION` dedups, so the closure terminates). Exact on the same
    * edge list, so components match the propagation loop's exactly.
    */
  val ddClusterSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardPairsCtesSql},
       |edges AS (SELECT a_id, b_id FROM pj WHERE jaccard >= $ClusterThreshold),
       |${componentsTailSql("doc_id")}""".stripMargin

  /** DuckDB mirror of [[ddClusterLsh]]: edges from the shared minhash
    * CTE chain (bit-identical signatures, hence identical candidate
    * pairs and estimates), then the same recursive-CTE fixpoint as
    * [[ddClusterSql]].
    */
  val ddClusterLshSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashCtesSql},
       |edges AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE ${Dedup.estJaccardSql} >= $ClusterThreshold),
       |${componentsTailSql("doc_id")}""".stripMargin

  /** Canonical-document selection: for each duplicate cluster, KEEP the
    * highest-quality member (ties broken by min doc_id) instead of the
    * arbitrary min-id — the policy production dedups actually want
    * ("of the k copies, keep the cleanest"), composed from
    * [[ddCluster]]'s components and [[TextAnalysis.qualityScore]].
    *
    * The quality score is deterministic IEEE math over integer token
    * counts, so both engines rank identically. `max(struct(q, -id))`
    * is the order-free argmax (lexicographic struct max ⇒ max quality,
    * then min id) — one partial-aggregated shuffle on the component id,
    * no window sort. Output: one row per cluster with the kept doc and
    * what it beat.
    */
  def ddCanonical(s: SparkSession, d: String): DataFrame =
    canonicalFrom(s, d, ddCluster_edges(s, d))

  /** [[ddCanonical]] with the banded-LSH edge source — the scale arm
    * (the [[ddClusterLsh]] edges with [[ddCanonical]]'s keep-the-
    * cleanest policy): the exact 3-gram pair join that dominates the
    * exact arm at the 100× probe (≈31 s of its cost) is replaced by
    * the signature-estimated candidate edges served from the session
    * cache. Same quality argmax, same output shape; components differ
    * only where the banding's recall differs from the exact graph.
    */
  def ddCanonicalLsh(s: SparkSession, d: String): DataFrame =
    canonicalFrom(s, d, Dedup.cachedCandidates(s, d)
      .filter(col("est_jaccard") >= ClusterThreshold)
      .select(col("a_id"), col("b_id")))

  /** Edge-source-parametric core of the canonical selection. */
  private def canonicalFrom(s: SparkSession, d: String,
      edges: DataFrame): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val quality = documents(s, d).select(col("doc_id"),
      when(size(toks) > 0, TextAnalysis.qualityScore(toks))
        .otherwise(lit(0.0)).as("q"))
    // components directly — not via ddCluster/clusterize, whose
    // size-join and presentation sort this groupBy would just throw
    // away (cluster_size falls out of the count here)
    connectedComponents(edges)
      .select(col("id").as("doc_id"), col("comp"))
      .join(quality, "doc_id")
      .groupBy(col("comp"))
      .agg(
        max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("comp"), (-col("best.nid")).as("keep_doc_id"),
        col("best.q").as("keep_quality"),
        col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("comp"))
  }

  /** The component fixpoint + quality argmax tail shared by both
    * canonical oracles; expects an `edges(a_id, b_id)` CTE in scope.
    */
  private val canonicalTailSql: String = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    s"""und AS (SELECT a_id AS src, b_id AS dst FROM edges
       |        UNION ALL SELECT b_id, a_id FROM edges),
       |nodes AS (SELECT DISTINCT src AS id FROM und),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.src AS id, reach.r
       |  FROM reach JOIN und u ON u.dst = reach.id),
       |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |quality AS (
       |  SELECT doc_id,
       |    CASE WHEN len($toksSql) > 0
       |         THEN ${TextAnalysis.qualityScoreSql(toksSql)}
       |         ELSE 0.0 END AS q
       |  FROM documents),
       |best AS (
       |  SELECT comp, MAX({'q': q, 'nid': -doc_id}) AS b,
       |    COUNT(*) AS cluster_size
       |  FROM comp JOIN quality ON quality.doc_id = comp.id
       |  GROUP BY comp)
       |SELECT comp, -(b.nid) AS keep_doc_id, b.q AS keep_quality,
       |  cluster_size, cluster_size - 1 AS n_dropped
       |FROM best
       |ORDER BY comp""".stripMargin
  }

  val ddCanonicalSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardPairsCtesSql},
       |edges AS (SELECT a_id, b_id FROM pj WHERE jaccard >= $ClusterThreshold),
       |$canonicalTailSql""".stripMargin

  /** DuckDB mirror of [[ddCanonicalLsh]]: the [[ddClusterLshSql]] edge
    * chain (bit-identical signatures → identical candidates and
    * estimates) with the shared canonical tail.
    */
  val ddCanonicalLshSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashCtesSql},
       |edges AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE ${Dedup.estJaccardSql} >= $ClusterThreshold),
       |$canonicalTailSql""".stripMargin

  // ---------------------------------------------------------------------
  // Semantic dedup (SemDeDup, Abbas et al.): duplicate clusters in
  // EMBEDDING space — connected components over cosine-similarity
  // edges, keep the min-id representative per component.
  // ---------------------------------------------------------------------

  /** Cosine threshold for a semantic-duplicate edge. Production
    * SemDeDup thresholds sit near 0.95+ on real embeddings; this
    * corpus's vectors are iid random (max pair cosine ≈ 0.51, per
    * TESTDATA), so the gated queries use a threshold that yields a
    * non-trivial graph — the CLUSTERING is what's certified, the
    * threshold is a parameter.
    */
  val SemanticThreshold = 0.4

  /** Session-scoped cache of the semantic-dedup relations over the
    * FULL corpus at `d` — the normalized-embedding frame, the
    * hyperplane-LSH bucket relation, and the deduped candidate-id
    * pairs. The MinHash side got this treatment in round 8
    * ([[Dedup.cachedShingleRel]] etc.); these are the embedding-side
    * equivalents — exactly the artifacts a production SemDeDup
    * deployment persists once (normalized vectors + bucket index).
    * Values are `localCheckpoint`ed, identical by construction to the
    * inline builds (same expressions over the same scan), so all
    * oracle hashes are unchanged. Guards live in [[Artifacts]].
    */
  private[operators] val cachedNormEmbeddings = Artifacts.declare("semnorm")(
    (s, d) => normRel(embeddings(s, d)))

  private[operators] val cachedSemBuckets = Artifacts.declare("sembuckets")(
    (s, d) => bucketRel(embeddings(s, d)))

  private[operators] val cachedSemCandidates = Artifacts.declare("semcand")(
    (s, d) => candidatesFromBuckets(cachedSemBuckets(s, d)))

  /** Exact-edge semantic dedup: all-pairs cosine ≥
    * [[SemanticThreshold]] (the same bit-exact left-fold kernels as
    * `dd_embed_cosine`) → connected components. The quadratic edge
    * source is the certification arm; [[ddSemanticLsh]] is the scale
    * arm. The input scan is the session-cached normalized frame —
    * the pair join stays quadratic by design, but the corpus
    * normalization needn't be rebuilt per run.
    */
  def ddSemantic(s: SparkSession, d: String): DataFrame = {
    val e = cachedNormEmbeddings(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val edges = a.join(b, col("a_id") < col("b_id"))
      .filter(graft.functions.VectorExpressions.dotF(col("ea"), col("eb")) /
        (col("na") * col("nb")) >= SemanticThreshold)
      .select(col("a_id"), col("b_id"))
    clusterize(edges, "vec_id")
  }

  /** Semantic dedup, SCALE-PATH form: candidate pairs from the
    * multi-table hyperplane-LSH buckets ([[graft.functions
    * .HyperplaneBuckets]] — vectors sharing a bucket in ANY table),
    * scored exactly, thresholded, clustered. One shuffle on (table,
    * bucket); the quadratic pair space is never formed. Recall
    * follows the bucket-collision probability (high for the
    * near-parallel vectors real semantic dups are; low at this
    * corpus's random-vector cosines — documented, and certified
    * exactly by the oracle either way since the hyperplanes embed as
    * literals).
    */
  def ddSemanticLsh(s: SparkSession, d: String): DataFrame =
    semanticClustersFrom(cachedSemCandidates(s, d),
      cachedNormEmbeddings(s, d), SemanticThreshold)

  /** The hyperplane-LSH bucket relation of an embedding frame. Bucket
    * rows carry ONLY (vec_id, table, bucket) — vectors are NOT
    * shuffled through the pair-join/dedup, they re-attach after (the
    * same narrow-candidates shape as Dedup.nearDupCandidates; the
    * wide-row variant measured 5× slower at the 10× probe, where each
    * candidate pair dragged two 64-float arrays through the shuffle).
    * Resolution scales with the corpus
    * ([[graft.functions.HyperplaneBuckets.resolutionBits]]) — a fixed
    * 64-bucket table saturates quadratically (the 100× probe filled
    * the disk before this); the count is one metadata-cheap job per
    * build.
    */
  private[operators] def bucketRel(e: DataFrame): DataFrame = {
    val bits = graft.functions.HyperplaneBuckets.resolutionBits(e.count())
    e.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneBuckets
        .hyperplaneBuckets(col("embedding"), bits))
        .as(Seq("table", "bucket")))
  }

  /** Deduped candidate-id pairs from a bucket relation: vectors
    * sharing a bucket in ANY table, each unordered pair once.
    */
  private[operators] def candidatesFromBuckets(bk: DataFrame): DataFrame =
    bk.as("a")
      .join(bk.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")

  /** The `(vec_id, embedding, nrm)` normalized frame both semantic
    * arms score from.
    */
  private[operators] def normRel(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      graft.functions.VectorExpressions.l2NormF(col("embedding")).as("nrm"))

  /** Frame-parametric core of [[ddSemanticLsh]] over ANY `(vec_id,
    * embedding)` frame — the form `graft.api.Corpus.semanticDupClusters`
    * exposes. Builds the relations in-plan; the gate serves them from
    * the session cache instead.
    */
  def semanticClusters(e: DataFrame,
      threshold: Double = SemanticThreshold): DataFrame = {
    // materialize the caller's frame ONCE: the resolution count, the
    // bucket relation, and the normalized scoring frame all read it —
    // without this an expensive upstream plan (joins, scoring) would
    // execute several times, one of them just to pick a bit width
    val eM = e.select(col("vec_id"), col("embedding")).localCheckpoint()
    semanticClustersFrom(candidatesFromBuckets(bucketRel(eM)), normRel(eM),
      threshold)
  }

  /** Exact-score + threshold + cluster over pre-built candidate and
    * normalized relations (cached in the gate, in-plan in the API).
    */
  private def semanticClustersFrom(candIds: DataFrame, withNorm: DataFrame,
      threshold: Double): DataFrame = {
    val edges = candIds
      .join(withNorm.select(col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na")), "a_id")
      .join(withNorm.select(col("vec_id").as("b_id"),
        col("embedding").as("eb"), col("nrm").as("nb")), "b_id")
      .filter(graft.functions.VectorExpressions.dotF(col("ea"), col("eb")) /
        (col("na") * col("nb")) >= threshold)
      .select(col("a_id"), col("b_id"))
    clusterize(edges, "vec_id")
  }

  private val semanticEdgeSql: String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(ea.v, eb.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (ea.nrm * eb.nrm) >= CAST($SemanticThreshold AS DOUBLE)""".stripMargin

  val ddSemanticSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |edges AS (
       |  SELECT ea.vec_id AS a_id, eb.vec_id AS b_id
       |  FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id
       |  WHERE $semanticEdgeSql),
       |${componentsTailSql("vec_id")}""".stripMargin

  val ddSemanticLshSql: String =
    s"""WITH RECURSIVE ${Similarity.bucketsCtesSql},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM buckets a JOIN buckets b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |edges AS (
       |  SELECT a_id, b_id
       |  FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id
       |  WHERE $semanticEdgeSql),
       |${componentsTailSql("vec_id")}""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("dd_spans",         ddSpans,        ddSpansSql),
    Gated("dd_spans_apply",   ddSpansApply,   ddSpansApplySql),
    Gated("dd_cluster",       ddCluster,      ddClusterSql),
    Gated("dd_canonical",     ddCanonical,    ddCanonicalSql),
    Gated("dd_canonical_lsh", ddCanonicalLsh, ddCanonicalLshSql),
    Gated("dd_cluster_lsh",   ddClusterLsh,   ddClusterLshSql),
    // deliberately the RAW-path SQL: equality certifies the exact-first
    // collapse is lossless (see ddClusterXf)
    Gated("dd_cluster_xf",    ddClusterXf,    ddClusterLshSql),
    Gated("dd_semantic",      ddSemantic,     ddSemanticSql),
    Gated("dd_semantic_lsh",  ddSemanticLsh,  ddSemanticLshSql),
  )
}
