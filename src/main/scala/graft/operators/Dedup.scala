package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Gated
import graft.functions._
import graft.functions.SimHash.simhash
import graft.sources.Tables._

/** Deduplication operators for a training-data pipeline: exact
  * (fingerprint groups), n-gram Jaccard (the exact near-dup oracle),
  * MinHash + banded LSH (the 100 TB-scale near-dup path), SimHash
  * (Hamming-bucketed), and embedding-cosine near-dup.
  *
  * Scale posture: the pairwise-exact forms (`dd_ngram_jaccard`,
  * `dd_embed_cosine`) are correctness oracles and small-side tools; at
  * 100 TB the candidate generation must come from `dd_minhash_lsh` /
  * `dd_simhash` bucketing, which shuffle once on (band, bucket-hash)
  * keys and never materialize the quadratic pair space.
  */
object Dedup {

  private def toks = tokens(col("text"))

  /** Exact dedup via fingerprint groups, on two keys: the full
    * normalized text (strict) and the first-10-token prefix (catches
    * prefix-duplicated docs). Canonical = lowest doc_id in the group;
    * dedup = keep rows with is_canonical.
    *
    * Group stats come from `groupBy(fp).agg(...)` joined back on the
    * fingerprint, NOT `count/min over (partition by fp)`: a window puts
    * every copy of a mega-duplicated doc (boilerplate pages repeat
    * 10⁶-10⁷× in web corpora) into ONE sort partition that AQE cannot
    * split, while the aggregate's map-side partials absorb the skew
    * before the exchange and AQE's skew-join handles the join-back.
    * Result-identical (the oracle still says it as windows).
    */
  def ddExact(s: SparkSession, d: String): DataFrame = {
    val fpFull = fingerprintMd5(col("text"))
    val fpPre = md5(concat_ws(" ", slice(toks, 1, 10)))
    val base = documents(s, d)
      .select(col("doc_id"), fpFull.as("fp_full"), fpPre.as("fp_prefix10"))
    val fullG = base.groupBy(col("fp_full"))
      .agg(count(lit(1)).as("full_group_size"))
    val preG = base.groupBy(col("fp_prefix10"))
      .agg(count(lit(1)).as("prefix_group_size"),
        min(col("doc_id")).as("pre_min"))
    base
      .join(fullG, "fp_full")
      .join(preG, "fp_prefix10")
      .select(col("doc_id"), col("fp_full"), col("fp_prefix10"),
        col("full_group_size"), col("prefix_group_size"),
        (col("doc_id") === col("pre_min")).as("is_canonical_prefix"))
      .orderBy(col("doc_id"))
  }

  val ddExactSql: String =
    """SELECT doc_id, fp_full, fp_prefix10,
      |  COUNT(*) OVER (PARTITION BY fp_full) AS full_group_size,
      |  COUNT(*) OVER (PARTITION BY fp_prefix10) AS prefix_group_size,
      |  doc_id = MIN(doc_id) OVER (PARTITION BY fp_prefix10) AS is_canonical_prefix
      |FROM (SELECT doc_id,
      |        md5(lower(trim(text))) AS fp_full,
      |        md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[1:10], ' ')) AS fp_prefix10
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Shared shingle relation: distinct (doc_id, md5-hashed 3-token
    * shingle). The 8-byte hash ([[graft.functions.WordShingleHashesExpr]])
    * replaces the raw ~25-byte shingle string as the dedup/join key —
    * fixed-width shuffle rows, primitive equality; both engines derive
    * the key with the same md5, so even a collision reproduces
    * identically. Referenced 2-3 times by each consumer (both pair-join
    * sides + per-doc counts), and under AQE each reference RECOMPUTES
    * (plan-level `ReusedExchange` serves the second self-join side only
    * with AQE off — verified on the executed plans; AQE's stage reuse
    * does not canonicalize these branches together). MEASURED at sf0.1:
    * the recompute costs < 10% end-to-end (AQE on 1.1-1.7 s vs off
    * 1.0-1.5 s for dd_ngram_jaccard) because the scan+tokenize side is
    * cheap relative to the pair join, and an explicit .persist() was
    * MEASURED SLOWER still (cache materialization cost > the duplicated
    * branches it saves) — don't add one. At 100 TB the knobs, in order:
    * persist/checkpoint of this relation once the text scan dominates,
    * or AQE off for this one query to restore exchange reuse.
    */
  private[operators] def shingleRel(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        // NOT array_distinct + no .distinct(): that variant was
        // MEASURED SLOWER at sf0.1 (1.6-2.5s vs 1.1-2.3s for
        // dd_ngram_jaccard) — the planner already serves the distinct
        // aggregation from the self-join's own exchange, so map-side
        // array dedup only adds per-row work here (unlike
        // Pipeline.contamination, whose eval side never joins on the
        // pair key and genuinely drops an exchange)
        explode(graft.functions.WordShingleHashesExpr
          .wordShingleHashesNative(col("text"), 3)).as("sh"))
      .distinct()

  /** Session-scoped artifacts of the shared dedup relations over the FULL
    * corpus at `d` — the shingle relation, the MinHash signature table,
    * and the 0.3-threshold banded-LSH candidate pairs. The suite's 18
    * `dd_*` gates each rebuilt these independently (tokenize + hash +
    * distinct per row — ~45 s of the round-7 full-suite 167 s); like
    * the IVF lists / PQ codes / BM25 postings caches, this memo is the
    * materialization a production lake persists ONCE (these ARE the
    * dedup index artifacts a MinHash deployment maintains). NOTE the
    * [[shingleRel]] Scaladoc's "don't persist" finding is about
    * WITHIN-query reuse (cache materialization vs 2-3 recomputed
    * branches of one plan); across 6+ independent gate executions the
    * build amortizes and the tradeoff flips. Population and lifetime
    * guards live in [[Artifacts]].
    */
  private[operators] val cachedShingleRel =
    Artifacts.declare("shingles")(shingleRel)

  private[operators] val cachedSignatures = Artifacts.declare("minhashsig")(
    (s, d) => minhashSignatures(documents(s, d)))

  /** The full-corpus banded-LSH candidate pairs at the default 0.3
    * threshold — the near-dup pair table every LSH-sourced gate
    * (`dd_minhash_lsh`, `dd_apply_lsh`, `dd_cluster_lsh`,
    * `dd_minhash_est`) filters its own view of.
    */
  private[operators] val cachedCandidates = Artifacts.declare("cand")(
    (s, d) => nearDupCandidatesFromSigs(cachedSignatures(s, d)))

  /** DuckDB mirror of [[shingleRel]]. The hash stays UBIGINT on the
    * DuckDB side (a BIGINT cast range-checks instead of reinterpreting
    * bits): `s` is only ever a join/distinct key inside the CTEs, and
    * unsigned-vs-signed interpretation of the same 64 bits induces the
    * same equivalence classes, so candidate pairs are identical.
    * `src` parameterizes the document source relation (the dedup-first
    * containment gate shingles a pre-filtered CTE, not the raw table).
    */
  private[operators] def shingleRelSqlFrom(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      |  FROM $src),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(s0), 1, 16)) AS UBIGINT) AS s
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(t) - 1),
      |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s0
      |        FROM toks WHERE len(t) >= 3) raw)""".stripMargin

  private[operators] val shingleRelSql: String = shingleRelSqlFrom("documents")

  /** All candidate pairs with their exact 3-gram Jaccard — the shared
    * core of [[ddNgramJaccard]] (top-50 view) and the connected-
    * components clustering in [[Dedup2.ddCluster]] (thresholded edge
    * list). Unordered and unlimited; consumers add their own view.
    */
  private[operators] val jaccardPairsAll =
    Artifacts.declare("jpairs")(jaccardPairsBuild)

  /** Uncached build of [[jaccardPairsAll]]. The pair relation is the
    * fourth session-cached dedup artifact (after shingles, signatures,
    * LSH candidates): five independent gate executions consume it —
    * `dd_ngram_jaccard`'s top-50 view, `dd_apply`'s ≥0.9 drop set,
    * `dd_cluster`/`dd_canonical`'s ≥0.8 edge list and `dd_lsh_pr`'s
    * ≥0.3 truth set — and each re-ran the full shingle self-join +
    * count rollup before this memo (measured at sf0.1: those five
    * gates' median total dropped 8.5 s → 2.0 s, with the one-time
    * 2.3 s build carried by the family-first rep like every other
    * cached artifact).
    *
    * SIZE NOTE: this is the CERTIFICATION arm's artifact — O(candidate
    * pairs), i.e. exactly the rows each exact gate already streamed
    * through its own shuffle, now spilled once to MEMORY_AND_DISK
    * blocks instead of five times to shuffle files. A boilerplate-
    * heavy corpus that blows up the pair space blows up the exact
    * gates themselves first; the scale path stays the banded-LSH /
    * exact-first forms, which never consume this relation.
    */
  private def jaccardPairsBuild(s: SparkSession, d: String): DataFrame = {
    val sh = cachedShingleRel(s, d)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(broadcast(cnt.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "na")), "a_id")
      .join(broadcast(cnt.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_sh", "nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("common"), col("na"), col("nb"),
        (col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  /** DuckDB CTE chain mirroring [[jaccardPairsAll]] (through relation
    * `pj(a_id, b_id, common, na, nb, jaccard)`), shared by the
    * ngram-jaccard and cluster oracles.
    */
  private[operators] val jaccardPairsCtesSql: String =
    s"""$shingleRelSql,
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pj AS (
      |  SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb,
      |    CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
      |  FROM pairs
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id)""".stripMargin

  /** Exact n-gram Jaccard near-dup: candidate pairs via shingle
    * equi-join, jaccard = |A∩B| / |A∪B|, top-50 pairs. This is the
    * ground-truth oracle the LSH variants are measured against.
    */
  def ddNgramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairsAll(s, d)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)

  val ddNgramJaccardSql: String =
    s"""WITH $jaccardPairsCtesSql
      |SELECT a_id, b_id, common, na, nb, jaccard
      |FROM pj
      |ORDER BY jaccard DESC, a_id, b_id
      |LIMIT 50""".stripMargin

  // ── Asymmetric containment ────────────────────────────────────────

  /** Pairs at/above this either-direction containment are reported. */
  val ContainThreshold = 0.5

  /** Postings cap for the containment inverted index: shingles present
    * in more than this many documents are stop-shingles — excluded from
    * BOTH the numerator and the denominators, so the measure stays a
    * true containment over the informative shingle space while a
    * boilerplate shingle in 10⁷ docs can never contribute its 10¹⁴
    * pairs. (The prefix-filtering idea of the set-similarity-join
    * literature, reduced to its scale-critical half.)
    */
  val MaxShingleDf = 128

  /** Asymmetric near-subset detection: containment
    * `C(A→B) = |S(A) ∩ S(B)| / |S(A)|` over non-stop 3-gram shingle
    * sets — the measure that catches a short doc swallowed whole by a
    * longer one (quote expansion, page-plus-chrome), where symmetric
    * Jaccard stays low because the union is dominated by B.
    *
    * Shape: distinct (doc, shingle) rows; a partial-aggregated
    * doc-frequency pass marks stop-shingles (tiny — broadcast
    * anti-joined away map-side); the capped inverted-index self-join
    * emits ≤ [[MaxShingleDf]]² rows per shingle; per-pair counts and
    * the two divisions finish it. Per-doc set sizes are counted AFTER
    * the cap so both sides of the ratio live in the same space.
    */
  def containmentPairs(docs: DataFrame, maxDf: Int = MaxShingleDf,
      threshold: Double = ContainThreshold): DataFrame =
    containmentPairsFromShingles(docs
      .select(col("doc_id"),
        explode(graft.functions.WordShingleHashesExpr
          .wordShingleHashesNative(col("text"), 3)).as("sh"))
      .distinct(), maxDf, threshold)

  /** [[containmentPairs]] from an already-built `(doc_id, sh)` shingle
    * relation — lets the gated entries serve from [[cachedShingleRel]]
    * (the dedup-first variant semi-joins the cache on the kept ids,
    * since the shingle relation is per-doc).
    */
  def containmentPairsFromShingles(sh: DataFrame, maxDf: Int = MaxShingleDf,
      threshold: Double = ContainThreshold): DataFrame = {
    // no forced broadcasts here (unlike jaccardPairsAll's
    // certification-only core): hot and cnt both GROW with the corpus,
    // so the anti-join and the two count joins stay planner-sized —
    // AQE broadcasts them at gate scale, shuffles them at 100 TB
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("sh"))
    val shF = sh.join(hot, Seq("sh"), "left_anti")
    val cnt = shF.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = shF.as("a")
      .join(shF.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(cnt.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "na"), "a_id")
      .join(cnt.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_sh", "nb"), "b_id")
      .select(col("a_id"), col("b_id"), col("common"), col("na"), col("nb"),
        (col("common").cast(DoubleType) / col("na")).as("contain_a"),
        (col("common").cast(DoubleType) / col("nb")).as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
  }

  /** Gated view of [[containmentPairs]]: top-100 by strongest-direction
    * containment.
    */
  def ddContainment(s: SparkSession, d: String): DataFrame =
    containmentPairsFromShingles(cachedShingleRel(s, d))
      .orderBy(greatest(col("contain_a"), col("contain_b")).desc,
        col("a_id"), col("b_id"))
      .limit(100)

  val ddContainmentSql: String =
    s"""WITH $shingleRelSql,
      |hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > $MaxShingleDf),
      |shf AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pc AS (
      |  SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb,
      |    CAST(common AS DOUBLE) / ca.n AS contain_a,
      |    CAST(common AS DOUBLE) / cb.n AS contain_b
      |  FROM pairs
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id)
      |SELECT a_id, b_id, common, na, nb, contain_a, contain_b
      |FROM pc
      |WHERE greatest(contain_a, contain_b) >= $ContainThreshold
      |ORDER BY greatest(contain_a, contain_b) DESC, a_id, b_id
      |LIMIT 100""".stripMargin

  /** Gated dedup-FIRST containment: [[containmentPairs]] over the
    * exact-deduped corpus (lowest doc_id per FULL-text fingerprint) —
    * the composition [[containmentPairs]]'s own docs prescribe, now
    * DEMONSTRATED in a gated plan rather than asserted. Pair-based
    * containment pays k² for a document duplicated k times (every
    * copy of A meets every copy of B in the inverted index); running
    * the linear exact-dedup pass first collapses each duplicate
    * group to one survivor, so the pair space the index emits is over
    * DISTINCT content only. The 10× replica probe (SCALING.md,
    * 3-run medians) shows the law directly: raw containment blows up
    * 8× (k² over 10× copies; r6's single-run measurement recorded
    * 18×), the deduped form stays flat — 2.19 s → 2.31 s, 1.05× —
    * because the replica corpus collapses back to the original
    * before any pair forms.
    *
    * The dedup key is deliberately the STRICT full-text fingerprint
    * ([[ddExact]]'s `fp_full`), not the 10-token prefix: a near-subset
    * pair (short doc swallowed by a longer one) often SHARES its
    * 10-token prefix with its container, so prefix dedup would delete
    * the very pairs containment exists to find (measured: prefix-first
    * containment returns zero pairs on the gate corpus). Exact-replica
    * removal keeps them while still collapsing the k² replica space.
    */
  def ddContainmentClean(s: SparkSession, d: String): DataFrame = {
    val keptIds = documents(s, d)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    containmentPairsFromShingles(
      cachedShingleRel(s, d).join(keptIds, Seq("doc_id"), "left_semi"))
      .orderBy(greatest(col("contain_a"), col("contain_b")).desc,
        col("a_id"), col("b_id"))
      .limit(100)
  }

  val ddContainmentCleanSql: String =
    s"""WITH fpf AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp
      |  FROM documents),
      |keepd AS (SELECT MIN(doc_id) AS doc_id FROM fpf GROUP BY fp),
      |docs_clean AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN keepd USING (doc_id)),
      |${shingleRelSqlFrom("docs_clean")},
      |hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > $MaxShingleDf),
      |shf AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pc AS (
      |  SELECT a_id, b_id, common, ca.n AS na, cb.n AS nb,
      |    CAST(common AS DOUBLE) / ca.n AS contain_a,
      |    CAST(common AS DOUBLE) / cb.n AS contain_b
      |  FROM pairs
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id)
      |SELECT a_id, b_id, common, na, nb, contain_a, contain_b
      |FROM pc
      |WHERE greatest(contain_a, contain_b) >= $ContainThreshold
      |ORDER BY greatest(contain_a, contain_b) DESC, a_id, b_id
      |LIMIT 100""".stripMargin

  /** Keep the lowest doc_id per 10-token-prefix fingerprint — the
    * exact-dedup stage shared by [[ddApply]] and [[ddApplyLsh]].
    *
    * "Keep rows where doc_id == min over the group" IS "emit min(doc_id)
    * per group", so this is a single partial-aggregated groupBy — no
    * window (whose unsplittable sort partition a 10⁷-copy boilerplate
    * group would straggle) and no join-back at all.
    */
  private def prefixCanonical(s: SparkSession, d: String): DataFrame = {
    val fpPre = md5(concat_ws(" ", slice(toks, 1, 10)))
    documents(s, d)
      .select(col("doc_id"), fpPre.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
  }

  private val pfxCteSql: String =
    """pfx AS (
      |  SELECT doc_id,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
      |  FROM (SELECT doc_id,
      |          md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[1:10], ' ')) AS fp
      |        FROM documents) f)""".stripMargin

  /** Applied dedup: the retained corpus after (a) exact prefix-group
    * dedup (keep lowest doc_id per 10-token-prefix fingerprint) and
    * (b) near-dup removal (for every pair with 3-gram jaccard ≥ 0.9,
    * drop the higher doc_id). The rule is deterministic and local, so
    * the oracle reproduces it exactly; at scale step (b)'s pair source
    * is the LSH candidates instead of the exact join ([[ddApplyLsh]]).
    */
  def ddApply(s: SparkSession, d: String): DataFrame = {
    // the drop set is a filter over the session-cached exact pair
    // relation — the same join [[jaccardPairsBuild]] runs (identical
    // IEEE division, so identical survivors), shared instead of
    // re-executed per gate
    val nearDupDrop = jaccardPairsAll(s, d)
      .filter(col("jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
    prefixCanonical(s, d)
      .join(nearDupDrop, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Applied dedup, SCALE-PATH form: the same retention rule as
    * [[ddApply]] — prefix-exact dedup, then drop the higher doc_id of
    * every near-dup pair — but with the near-dup pairs sourced from the
    * banded-LSH signature estimate (≥ 0.9) instead of the exact
    * quadratic shingle join. This is the composition that actually runs
    * at 100 TB; having BOTH gated means the exact form certifies the
    * rule while this one certifies the scalable pair source.
    */
  def ddApplyLsh(s: SparkSession, d: String): DataFrame = {
    val nearDupDrop = ddMinhashLsh(s, d)
      .filter(col("est_jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
    prefixCanonical(s, d)
      .join(nearDupDrop, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  // lazy: interpolates minhashCtesSql/estJaccardSql, declared further
  // down the object — an eager val would capture them as null
  lazy val ddApplyLshSql: String =
    s"""WITH $minhashCtesSql,
       |near AS (
       |  SELECT DISTINCT b_id AS doc_id
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE $estJaccardSql >= 0.9),
       |$pfxCteSql
       |SELECT doc_id FROM pfx
       |WHERE keep AND doc_id NOT IN (SELECT doc_id FROM near)
       |ORDER BY doc_id""".stripMargin

  val ddApplySql: String =
    s"""WITH $shingleRelSql,
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |drop_near AS (
      |  SELECT DISTINCT b_id AS doc_id FROM (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2) p
      |  JOIN cnt ca ON ca.doc_id = p.a_id
      |  JOIN cnt cb ON cb.doc_id = p.b_id
      |  WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.9),
      |$pfxCteSql
      |SELECT doc_id FROM pfx
      |WHERE keep AND doc_id NOT IN (SELECT doc_id FROM drop_near)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash + banded LSH — the scale path.
  // ---------------------------------------------------------------------

  val NumHashes: Int = graft.functions.MinHashSig.NumHashes
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Per-doc MinHash signature (array of 64 longs) via the codegen'd
    * [[graft.functions.MinHashSig]] expression — one tight loop per row,
    * no shuffle. (The pure-HOF formulation was interpreted and ~1000×
    * slower; see the expression's Scaladoc.)
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.WordShinglesExpr
        .wordShinglesNative(col("text"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("shingles")).as("sig"))

  /** Banded-LSH candidate pairs with signature-estimated Jaccard.
    * One shuffle on the (band, band-slice) key; near-dups collide in ≥1
    * band with probability 1-(1-j^r)^b (~0.99 for j=0.8 at r=4,b=16).
    * The quadratic pair space is never formed — only same-bucket pairs.
    *
    * The bucket key is the band's r signature values THEMSELVES (r
    * long columns), not an engine-specific hash of them: candidates are
    * then exactly "pairs agreeing on all r rows of some band", which the
    * DuckDB oracle reproduces — and r longs is already a compact
    * fixed-width shuffle key, so hashing them first would only save a
    * few bytes while making the operator unverifiable.
    */
  /** Frame-parametric core of the banded-LSH pipeline: candidate pairs
    * `(a_id, b_id, est_jaccard ≥ minJaccard)` over ANY `(doc_id, text)`
    * frame — shared by the gated [[ddMinhashLsh]] and the
    * `graft.api.Corpus.nearDupPairs` facade, so the banding scheme has
    * exactly one definition.
    *
    * RECALL FLOOR: candidates come from the fixed Bands×RowsPerBand
    * banding; a pair with Jaccard j collides in ≥1 band with
    * probability 1-(1-j^r)^b (≈16% at j=0.1) — a threshold below ~0.3
    * would silently return a vanishing fraction of the qualifying
    * pairs, so it is rejected rather than half-honored.
    */
  def nearDupCandidates(docs: DataFrame, minJaccard: Double = 0.3): DataFrame =
    nearDupCandidatesFromSigs(minhashSignatures(docs), minJaccard)

  /** [[nearDupCandidates]] from an already-materialized signature table
    * — the entry the session-cached [[cachedSignatures]] feeds, so the
    * signature build is not re-paid per gate.
    */
  def nearDupCandidatesFromSigs(sigs: DataFrame,
      minJaccard: Double = 0.3): DataFrame = {
    require(minJaccard >= 0.3,
      s"minJaccard=$minJaccard is below the $Bands×$RowsPerBand banding's " +
        "recall floor (~0.3); lower thresholds need a wider banding")
    // band rows carry only (doc_id, band, r key cols) — signatures are
    // NOT shuffled through the pair-join/dedup; they re-attach after.
    val keyCols = (0 until RowsPerBand).map(i =>
      element_at(col("sig"), col("band") * RowsPerBand + i + 1).as(s"k$i"))
    val bands = sigs.select(
      col("doc_id"),
      explode(sequence(lit(0), lit(Bands - 1))).as("band"),
      col("sig"))
      .select(col("doc_id") +: col("band") +: keyCols: _*)
    val joinCond = col("a.band") === col("b.band") &&
      (0 until RowsPerBand).map(i =>
        col(s"a.k$i") === col(s"b.k$i")).reduce(_ && _) &&
      col("a.doc_id") < col("b.doc_id")
    val candIds = bands.as("a")
      .join(bands.as("b"), joinCond)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    candIds
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        (graft.functions.MinHashSig.sigOverlap(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  def ddMinhashLsh(s: SparkSession, d: String): DataFrame =
    cachedCandidates(s, d)
      .orderBy(col("est_jaccard").desc, col("a_id"), col("b_id"))

  /** EXACT-FIRST near-dup edges: collapse byte-identical documents to
    * one canonical representative per fingerprint, run the banded-LSH
    * pipeline on the DISTINCT survivors only, and re-expand each
    * collapsed group as a STAR (canonical → member, est_jaccard 1.0).
    * Component-equivalent to [[nearDupCandidates]] over the full corpus
    * — provably: byte-identical texts have identical signatures, so
    * (a) every cross-group LSH edge the raw path finds between members
    * exists between their canonicals with the same estimate, and (b) a
    * group's within-clique edges (est 1.0 in every band) connect
    * exactly the docs the star re-expansion connects — same components,
    * same min-id labels (the `dd_cluster_xf` gate pins this
    * cross-engine: Spark runs THIS path, the DuckDB oracle the raw
    * one).
    *
    * This ordering is the 100 TB shape for crawl corpora, which are
    * mostly EXACT mirrors: a group of k identical docs costs the raw
    * banded join k² bucket-pair rows per band (SCALING.md's CC ladder
    * measured the k=80 rung's edge build at 262 s — ~95% of
    * end-to-end), while here it costs one hash-aggregate row plus k-1
    * star edges, and the quadratic machinery only ever sees distinct
    * texts. The collapse key is md5 over the RAW text (not the
    * normalized [[ddExact]] fingerprint): byte-identity is exactly the
    * condition under which dropping a member loses nothing — a
    * case-folded "duplicate" can shingle differently, and near-dup
    * edges are the LSH stage's job.
    *
    * Docs too short to shingle (< 3 tokens) are excluded from the
    * collapse, mirroring the signature pipeline's own eligibility —
    * collapsing them would invent edges (identical 2-token docs) the
    * signature path cannot see.
    */
  def nearDupEdgesExactFirst(docs: DataFrame,
      minJaccard: Double = 0.3, sigs: Option[DataFrame] = None): DataFrame = {
    // signatures are PER-DOC (independent of the surrounding corpus),
    // so a caller holding the session-cached signature table passes it
    // and the survivor pipeline semi-joins it instead of re-running
    // the shingle + minhash kernel over the survivor texts — the
    // persisted-artifact reuse a production dedup runs with.
    // WITHOUT a pre-built table the old shape is kept exactly: a
    // map-side shingle-count eligibility filter and the minhash kernel
    // over the SURVIVORS only — building signatures for all docs just
    // to semi-join them away would re-pay the k² replica kernel work
    // this exact-first ordering exists to avoid
    val eligible = sigs match {
      case Some(sg) =>
        // "has a signature" ≡ the signature pipeline's own keep
        // condition, size(shingles) > 0
        docs.join(sg.select(col("doc_id")), Seq("doc_id"), "left_semi")
      case None =>
        docs.filter(size(graft.functions.WordShinglesExpr
          .wordShinglesNative(col("text"), 3)) > 0)
    }
    val fp = eligible.select(col("doc_id"), md5(col("text")).as("fp"))
    // one hash-aggregate absorbs the k² skew map-side; canonical = min id
    val canon = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("canon_id"))
    val members = fp.join(canon, "fp")
    val star = members.filter(col("doc_id") =!= col("canon_id"))
      .select(col("canon_id").as("a_id"), col("doc_id").as("b_id"),
        lit(1.0).as("est_jaccard"))
    val survivorIds =
      members.filter(col("doc_id") === col("canon_id")).select(col("doc_id"))
    val survivorSigs = sigs match {
      case Some(sg) => sg.join(survivorIds, Seq("doc_id"), "left_semi")
      case None => minhashSignatures(
        docs.join(survivorIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
    }
    nearDupCandidatesFromSigs(survivorSigs, minJaccard).unionByName(star)
  }

  /** Shared DuckDB CTE chain for the minhash+LSH pipeline (through the
    * `cand` and `sig` relations): the md5-derived base hash and the
    * affine coefficient family are embedded as literals, so signatures
    * — and therefore candidate pairs and the estimated Jaccard — are
    * bit-identical across engines. Shared by [[ddMinhashLshSql]] and
    * [[ddApplyLshSql]].
    */
  private[graft] val minhashCtesSql: String = {
    val p = graft.functions.MinHashSig.MersennePrime
    val sigList = (0 until NumHashes).map { i =>
      val a = graft.functions.MinHashSig.coefA(i)
      val b = graft.functions.MinHashSig.coefB(i)
      s"list_min(list_transform(hl, h -> ($a * h + $b) % $p))"
    }.mkString("[", ",\n      ", "]")
    val bandKeys = (0 until RowsPerBand)
      .map(i => s"sig[band * $RowsPerBand + ${i + 1}] AS k$i").mkString(", ")
    val keyEq = (0 until RowsPerBand)
      .map(i => s"a.k$i = b.k$i").mkString(" AND ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shs
       |  FROM toks WHERE len(t) >= 3),
       |hl AS (
       |  SELECT doc_id,
       |    list_transform(shs, s ->
       |      CAST(CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT) % $p AS BIGINT)) AS hl
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, $sigList AS sig
       |  FROM hl),
       |bands AS (
       |  SELECT doc_id, band, $bandKeys
       |  FROM sig CROSS JOIN range($Bands) r(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND $keyEq AND a.doc_id < b.doc_id)""".stripMargin
  }

  private[operators] val estJaccardSql: String =
    s"""CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |    pr -> CASE WHEN pr[1] = pr[2] THEN 1 ELSE 0 END)) AS DOUBLE) / $NumHashes""".stripMargin

  val ddMinhashLshSql: String =
    s"""WITH $minhashCtesSql
       |SELECT a_id, b_id,
       |  $estJaccardSql AS est_jaccard
       |FROM cand
       |JOIN sig sa ON sa.doc_id = a_id
       |JOIN sig sb ON sb.doc_id = b_id
       |WHERE $estJaccardSql >= 0.3
       |ORDER BY est_jaccard DESC, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // dd_minhash_est — estimator certification: MinHash vs exact Jaccard.
  // ---------------------------------------------------------------------

  /** Accuracy floors for the 64-hash estimator: per-pair standard
    * error is √(J(1−J)/64) ≤ 0.0625, so a 0.05 mean / 0.15 max bound
    * holds with wide margin (measured at the gate SFs: mean ≈ 0.014,
    * max ≈ 0.064).
    */
  val MinhashMeanErrFloor = "0.05"
  val MinhashMaxErrFloor = "0.15"

  /** Certification row for the MinHash estimator: every LSH candidate
    * pair's `est_jaccard` compared against its EXACT shingle Jaccard,
    * reduced to (pair count, quantized error sum, max error) with the
    * accuracy floors pinned TRUE — the `sim_recall` pattern, so a
    * signature-family regression (bad coefficients, a broken band
    * key, a hash change on one engine) hash-fails the gate instead of
    * silently degrading dedup recall. The mean folds exact integers
    * (`floor(err·10¹²)` per pair — each err is already bit-identical
    * cross-engine, and integer sums are order-free where a double sum
    * is partition-order-dependent); one final division. Candidates
    * missing from the exact pair join (possible only under hash
    * collisions) count at exact = 0 via the left join, the
    * conservative direction.
    */
  def ddMinhashEst(s: SparkSession, d: String): DataFrame = {
    val cand = cachedCandidates(s, d)
    // exact arm RESTRICTED to the candidate pairs (the DuckDB mirror's
    // shape): semi-join the shingle relation on candidate doc ids, then
    // count common shingles per candidate pair — pair-scoped work
    // (|cand| × shingles-per-doc rows) instead of the corpus-wide
    // shared-shingle pair join the round-7 form paid (the last
    // unrestricted pair join outside documented certification arms).
    // Values are identical: a candidate pair's exact Jaccard does not
    // depend on non-candidate docs, and zero-overlap candidates fall
    // out of the count join exactly as they fell out of the corpus-wide
    // pair join (both coalesce to 0 below).
    val sh = cachedShingleRel(s, d)
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shc = sh.join(broadcast(candIds), Seq("doc_id"), "leftsemi")
    val cnt = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val exact = cand.select(col("a_id"), col("b_id"))
      .join(shc.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
      .join(shc.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(cnt.select(col("doc_id").as("a_id"),
        col("n_sh").as("na"))), "a_id")
      .join(broadcast(cnt.select(col("doc_id").as("b_id"),
        col("n_sh").as("nb"))), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
    val errs = cand.join(exact, Seq("a_id", "b_id"), "left")
      .select(abs(col("est_jaccard") -
        coalesce(col("jaccard"), lit(0.0))).as("err"))
    errs
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("err") * lit(1e12)).cast(LongType)).as("err_sum_q"),
        max(col("err")).as("max_err"))
      .select(col("n_pairs"), col("err_sum_q"), col("max_err"),
        (col("err_sum_q").cast(DoubleType) /
          (lit(1e12) * col("n_pairs").cast(DoubleType))).as("mean_err"),
        (col("err_sum_q").cast(DoubleType) /
          (lit(1e12) * col("n_pairs").cast(DoubleType)) <=
          lit(MinhashMeanErrFloor.toDouble)).as("mean_floor"),
        (col("max_err") <= lit(MinhashMaxErrFloor.toDouble)).as("max_floor"))
  }

  /** DuckDB mirror: the minhash CTE chain for the candidates plus a
    * RENAMED hashed-shingle relation (`shx` — `minhashCtesSql` already
    * owns the `toks`/`sh` names) for the exact arm.
    */
  val ddMinhashEstSql: String =
    s"""WITH $minhashCtesSql,
       |est AS (
       |  SELECT a_id, b_id, $estJaccardSql AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE $estJaccardSql >= 0.3),
       |shx AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT) AS h
       |  FROM (SELECT doc_id, unnest(shs) AS s FROM sh) r),
       |cntx AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
       |exact AS (
       |  SELECT p.a_id, p.b_id,
       |    CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common) AS exact_j
       |  FROM (SELECT e.a_id, e.b_id, COUNT(*) AS common
       |        FROM est e
       |        JOIN shx a ON a.doc_id = e.a_id
       |        JOIN shx b ON b.doc_id = e.b_id AND a.h = b.h
       |        GROUP BY 1, 2) p
       |  JOIN cntx ca ON ca.doc_id = p.a_id
       |  JOIN cntx cb ON cb.doc_id = p.b_id),
       |errs AS (
       |  SELECT abs(e.est_jaccard - COALESCE(x.exact_j, 0.0)) AS err
       |  FROM est e LEFT JOIN exact x
       |    ON e.a_id = x.a_id AND e.b_id = x.b_id),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(CAST(floor(err * 1e12) AS BIGINT)) AS BIGINT) AS err_sum_q,
       |    MAX(err) AS max_err
       |  FROM errs)
       |SELECT n_pairs, err_sum_q, max_err,
       |  CAST(err_sum_q AS DOUBLE) / (1e12 * CAST(n_pairs AS DOUBLE)) AS mean_err,
       |  (CAST(err_sum_q AS DOUBLE) / (1e12 * CAST(n_pairs AS DOUBLE)))
       |    <= $MinhashMeanErrFloor AS mean_floor,
       |  max_err <= $MinhashMaxErrFloor AS max_floor
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // dd_lsh_pr — banding certification: pair-level precision/recall.
  // ---------------------------------------------------------------------

  /** Floors (integer percent) for the banded pipeline's pair-level
    * precision and recall vs exact truth at the 0.3 threshold. Both
    * sides of each boundary flip with the ~0.06 estimator error
    * (pairs with exact J just above 0.3 can estimate below it and
    * vice versa), so the floors certify "the banding works", not
    * "the estimator is exact" — [[ddMinhashEst]] certifies that.
    */
  val LshRecallFloorPct = 60L
  val LshPrecisionFloorPct = 60L

  /** Certification row for the BANDING itself — the companion of
    * [[ddMinhashEst]] (which certifies the estimator on the pairs the
    * banding found, but says nothing about pairs it MISSED). Compares
    * the reported pair set (bucket collision + est ≥ 0.3, exactly
    * what `dd_minhash_lsh` emits) against exact truth (shingle
    * Jaccard ≥ 0.3 over all pairs) and pins integer-percent
    * precision/recall floors TRUE, so a banding regression — wrong
    * band count, a broken band key, rows-per-band drift — hash-fails
    * the gate even when every reported pair's estimate is accurate.
    *
    * The truth arm is the same corpus-wide shared-shingle pair join
    * the exact dedup gates run (a documented certification-arm cost,
    * served from the session shingle cache); counts and floors are
    * integer-only, so nothing float-ordering-dependent is hashed.
    */
  def ddLshPr(s: SparkSession, d: String): DataFrame = {
    val truth = jaccardPairsAll(s, d).filter(col("jaccard") >= 0.3)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_t"))
    val rep = cachedCandidates(s, d)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_r"))
    truth.join(rep, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(coalesce(col("in_t"), lit(0L))).as("n_true"),
        sum(coalesce(col("in_r"), lit(0L))).as("n_reported"),
        sum(when(col("in_t").isNotNull && col("in_r").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_true"), col("n_reported"), col("n_hit"),
        (col("n_hit") * 100 >= col("n_true") * LshRecallFloorPct)
          .as("recall_floor"),
        (col("n_hit") * 100 >= col("n_reported") * LshPrecisionFloorPct)
          .as("precision_floor"))
  }

  /** DuckDB mirror: the minhash chain for the reported pairs plus the
    * renamed shingle relation (`shx`, as in [[ddMinhashEstSql]]) for
    * the corpus-wide truth arm.
    */
  val ddLshPrSql: String =
    s"""WITH $minhashCtesSql,
       |rep AS (
       |  SELECT a_id, b_id
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id
       |  WHERE $estJaccardSql >= 0.3),
       |shx AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT) AS h
       |  FROM (SELECT doc_id, unnest(shs) AS s FROM sh) r),
       |cntx AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
       |truth AS (
       |  SELECT p.a_id, p.b_id
       |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
       |        FROM shx a JOIN shx b ON a.h = b.h AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) p
       |  JOIN cntx ca ON ca.doc_id = p.a_id
       |  JOIN cntx cb ON cb.doc_id = p.b_id
       |  WHERE CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common) >= 0.3),
       |f AS (
       |  SELECT
       |    CAST(COUNT(t.a_id) AS BIGINT) AS n_true,
       |    CAST(COUNT(r.a_id) AS BIGINT) AS n_reported,
       |    CAST(SUM(CASE WHEN t.a_id IS NOT NULL AND r.a_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM truth t FULL OUTER JOIN rep r
       |    ON t.a_id = r.a_id AND t.b_id = r.b_id)
       |SELECT n_true, n_reported, n_hit,
       |  n_hit * 100 >= n_true * $LshRecallFloorPct AS recall_floor,
       |  n_hit * 100 >= n_reported * $LshPrecisionFloorPct AS precision_floor
       |FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // SimHash — Hamming-bucketed near-dup.
  // ---------------------------------------------------------------------

  /** Per-doc SimHash + Hamming-bucketed candidate pairs: split the 64-bit
    * signature into four 16-bit chunks; any pair within Hamming distance
    * 3 shares ≥1 chunk (pigeonhole), so bucketing by (chunk_idx, chunk)
    * finds all such pairs with one shuffle. Output: pairs with their
    * Hamming distance ≤ 6.
    */
  def ddSimhash(s: SparkSession, d: String): DataFrame = {
    val sh = documents(s, d)
      .filter(size(toks) > 0) // token-less docs have no signature
      .select(col("doc_id"), simhash(col("text")).as("sh"))
    val chunkArr = array((0 until 4).map(i =>
      shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunks = sh.select(col("doc_id"), col("sh"),
      posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("hamming") <= 6)
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  /** DuckDB mirror of the simhash pipeline: the md5-derived token hash
    * gives bit-identical 64-bit signatures in both engines (computed in
    * UBIGINT on the DuckDB side — same bit pattern as Spark's signed
    * long), so chunk buckets, candidate pairs, and Hamming distances
    * all reproduce exactly.
    */
  val ddSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h
      |  FROM toks),
      |votes AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN range(64) r(b)
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << b) ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sh
      |  FROM votes GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, sh, ci, CAST((sh >> (ci * 16)) & 65535 AS BIGINT) AS chunk
      |  FROM sig CROSS JOIN range(4) r(ci)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      |  FROM chunks a JOIN chunks b
      |    ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, hamming FROM pairs
      |WHERE hamming <= 6
      |ORDER BY hamming, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding-cosine near-dup.
  // ---------------------------------------------------------------------

  /** Top-50 most-similar embedding pairs by cosine. Exact pairwise form
    * (broadcast self-join) — the oracle for the ANN path in
    * [[Similarity]]; at scale, candidates come from LSH bucketing.
    */
  def ddEmbedCosine(s: SparkSession, d: String): DataFrame = {
    // norms once per vector (O(n)), not once per pair (O(n²)): the norm
    // of a given vector is bit-identical wherever it's computed, so
    // dot/(na*nb) equals cosineSim(ea, eb) exactly — at a third of the
    // flops over the quadratic pair space. The normalized frame itself
    // is the session-cached artifact the semantic-dedup arms already
    // serve from (same expressions, same scan — identical values).
    val e = Dedup2.cachedNormEmbeddings(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (VectorExpressions.dotF(col("ea"), col("eb")) /
          (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  val ddEmbedCosineSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])),
      |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |ORDER BY cosine DESC, a_id, b_id
      |LIMIT 50""".stripMargin

  /** Deterministic "yesterday / today" split of the documents corpus
    * for the incremental-dedup gates: `seen` (already-retained corpus)
    * is every doc with `doc_id % 3 != 0`, today's `batch` is the rest.
    * The dedup key is the 10-token-prefix fingerprint (the same key
    * [[ddApply]]'s exact stage uses) — the gate corpus has no full-text
    * duplicates at all, while prefix groups genuinely cross the split,
    * so this key makes the gate exercise real drops.
    */
  private def seenAndBatch(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = documents(s, d)
      .withColumn("fp", md5(concat_ws(" ", slice(toks, 1, 10))))
    (docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0))
  }

  private val incrementalOutCols =
    Seq(col("doc_id"), col("source"), col("n_chars"), col("fp"))

  /** Incremental exact dedup: rows of today's batch whose fingerprint
    * does not appear in the seen corpus — the batch-over-batch dedup of
    * an accreting pipeline (yesterday's corpus is `seen`, today's crawl
    * is `batch`). One fingerprint-keyed LEFT ANTI join: only
    * fingerprints shuffle, never documents meeting documents; within-
    * batch duplicates survive by design (compose with [[ddExact]]).
    * This is the exact arm; [[ddIncrementalBloom]] is the form that
    * avoids shuffling the (much larger) batch side at 100 TB.
    */
  def ddIncremental(s: SparkSession, d: String): DataFrame = {
    val (seen, batch) = seenAndBatch(s, d)
    batch.join(
        seen.select(col("fp").as("__seen_fp")).distinct(),
        col("fp") === col("__seen_fp"), "left_anti")
      .select(incrementalOutCols: _*)
      .orderBy(col("doc_id"))
  }

  val ddIncrementalSql: String =
    """WITH f AS (
      |  SELECT doc_id, source, n_chars,
      |    md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')[1:10], ' ')) AS fp
      |  FROM documents)
      |SELECT doc_id, source, n_chars, fp
      |FROM f b
      |WHERE b.doc_id % 3 = 0
      |  AND NOT EXISTS (SELECT 1 FROM f s
      |                  WHERE s.doc_id % 3 <> 0 AND s.fp = b.fp)
      |ORDER BY doc_id""".stripMargin

  /** Incremental dedup, SCALE-PATH form — result-identical to
    * [[ddIncremental]] but only a sliver of the batch ever shuffles:
    *
    *  1. build a Bloom filter over the seen fingerprints with Spark's
    *     own `BloomFilterAggregate` (partial filters OR-merge up the
    *     aggregation tree; the driver holds only the final ~MB sketch —
    *     same posture as a scalar-aggregate collect);
    *  2. probe it map-side over the batch with the codegen'd
    *     `BloomFilterMightContain` — bloom-NEGATIVE rows are
    *     DEFINITELY unseen and are kept with zero shuffle;
    *  3. only bloom-positive rows (true duplicates + the FPP-bounded
    *     false positives) go through the exact anti-join confirm.
    *
    * At 100 TB with a ~1% duplicate rate, step 3 shuffles ~1% + FPP of
    * the batch instead of all of it; false positives survive the
    * confirm join, so the bloom changes the plan, never the answer.
    * The driver-side filter is what Spark's runtime row-level filtering
    * builds implicitly for selective joins — built explicitly here
    * because the anti-join's batch side is the LARGE side, which the
    * optimizer's injected bloom (aimed at large-probe/small-build
    * semi-joins) does not cover.
    */
  def ddIncrementalBloom(s: SparkSession, d: String): DataFrame = {
    val (seen, batch) = seenAndBatch(s, d)
    bloomAntiJoin(batch, seen, "fp")
      .select(incrementalOutCols: _*)
      .orderBy(col("doc_id"))
  }

  /** Frame-parametric core of the bloom-prefiltered anti-join: rows of
    * `batch` whose `keyCol` does not appear in `seen` — result-identical
    * to `batch.join(seen-keys, "left_anti")`, with only the
    * bloom-positive sliver of `batch` shuffling. `expectedItems` sizes
    * the filter (default 10⁶ → ~1.2 MB at the default FPP, far under
    * the 8 MB runtime-filter cap; size from corpus stats — seen-side
    * row count — in a real deployment). Shared by the gated
    * [[ddIncrementalBloom]] and `graft.api.Corpus.dedupAgainst`.
    */
  def bloomAntiJoin(batch: DataFrame, seen: DataFrame, keyCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    // distributed build: partial filters OR-merge up the agg tree; the
    // driver holds only the final sketch (scalar-collect posture)
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(keyCol))), expectedItems)
        .toAggregateExpression())
    val bf = seen.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    // BloomFilterAggregate over ZERO rows evals to null — a null filter
    // would null-poison might_contain and silently drop the whole
    // batch. Nothing seen ⇒ nothing to drop: the batch passes through
    // (same empty-input class as the connected-components label-sum
    // guard).
    if (bf == null) return batch
    val might = ColumnBridge.column(
      BloomFilterMightContain(Literal(bf, BinaryType),
        ColumnBridge.expression(xxhash64(col(keyCol)))))
    val seenKeys = seen.select(col(keyCol).as("__seen_fp")).distinct()
    batch.filter(!might).unionByName(
      batch.filter(might).join(seenKeys,
        col(keyCol) === col("__seen_fp"), "left_anti"))
  }

  /** Same answer as [[ddIncrementalSql]] — the bloom is plan-only. */
  val ddIncrementalBloomSql: String = ddIncrementalSql

  // ---------------------------------------------------------------------
  // dd_incremental_lsh — NEAR-dup batch-over-batch dedup.
  // ---------------------------------------------------------------------

  /** Incremental NEAR-dup dedup: every doc of today's batch probed
    * against the seen corpus through the banded-LSH signature index —
    * the daily-crawl-versus-lake question [[ddIncremental]] answers
    * only for EXACT duplicates. Output: one row per batch doc with its
    * best seen near-dup (highest estimated Jaccard, ties to the lowest
    * seen id) or an explicit not-a-dup row. Within-batch duplicates
    * are deliberately out of scope (compose with [[ddApplyLsh]] over
    * the batch); the question here is strictly "is this new content
    * already in the lake".
    *
    * Scale shape: the seen side's signatures and band keys ARE the
    * persisted index a production lake maintains ([[ddIncrementalBloom]]'s
    * posture at near-dup granularity — only the batch's signatures are
    * computed fresh); the probe is one equi-join on the (band, keys)
    * bucket, candidates re-score from the 64-long signatures, and the
    * per-new-doc argmax partial-aggregates. Nothing quadratic: bucket
    * collisions bound the pair space exactly as in [[nearDupCandidates]].
    */
  def ddIncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    incrementalNearDups(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0))
      .orderBy(col("doc_id"))
  }

  /** Frame-parametric core of [[ddIncrementalLsh]] over ANY batch/seen
    * `(doc_id, text)` frames.
    */
  def incrementalNearDups(batch: DataFrame, seen: DataFrame,
      minJaccard: Double = 0.3): DataFrame = {
    val bSig = minhashSignatures(batch)
    val sSig = minhashSignatures(seen)
    def bandRows(sigs: DataFrame) = {
      val keyCols = (0 until RowsPerBand).map(i =>
        element_at(col("sig"), col("band") * RowsPerBand + i + 1).as(s"k$i"))
      sigs.select(col("doc_id"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"), col("sig"))
        .select(col("doc_id") +: col("band") +: keyCols: _*)
    }
    val joinCond = col("a.band") === col("b.band") &&
      (0 until RowsPerBand).map(i =>
        col(s"a.k$i") === col(s"b.k$i")).reduce(_ && _)
    val cand = bandRows(bSig).as("a")
      .join(bandRows(sSig).as("b"), joinCond)
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("seen_id"))
      .dropDuplicates("new_id", "seen_id")
    val scored = cand
      .join(bSig.select(col("doc_id").as("new_id"), col("sig").as("sig_a")),
        "new_id")
      .join(sSig.select(col("doc_id").as("seen_id"), col("sig").as("sig_b")),
        "seen_id")
      .select(col("new_id"), col("seen_id"),
        (graft.functions.MinHashSig.sigOverlap(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / NumHashes).as("est"))
      .filter(col("est") >= minJaccard)
    val best = scored.groupBy(col("new_id"))
      .agg(max(struct(col("est"), (-col("seen_id")).as("nseen"),
        col("seen_id"))).as("m"))
      .select(col("new_id").as("doc_id"),
        col("m.seen_id").as("match_id"), col("m.est").as("est_jaccard"))
    batch.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id").isNotNull.as("is_near_dup"),
        col("match_id"), col("est_jaccard"))
  }

  val ddIncrementalLshSql: String = {
    val keyEq = (0 until RowsPerBand).map(i => s"a.k$i = b.k$i")
      .mkString(" AND ")
    s"""WITH $minhashCtesSql,
       |icand AS (
       |  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS seen_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND $keyEq
       |  WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0),
       |iscored AS (
       |  SELECT new_id, seen_id, $estJaccardSql AS est
       |  FROM icand
       |  JOIN sig sa ON sa.doc_id = seen_id
       |  JOIN sig sb ON sb.doc_id = new_id
       |  WHERE $estJaccardSql >= 0.3),
       |ibest AS (
       |  SELECT new_id, seen_id, est FROM (
       |    SELECT new_id, seen_id, est,
       |      ROW_NUMBER() OVER (PARTITION BY new_id
       |        ORDER BY est DESC, seen_id) AS rn
       |    FROM iscored) z WHERE rn = 1)
       |SELECT t.doc_id,
       |  ib.seen_id IS NOT NULL AS is_near_dup,
       |  ib.seen_id AS match_id,
       |  ib.est AS est_jaccard
       |FROM toks t LEFT JOIN ibest ib ON t.doc_id = ib.new_id
       |WHERE t.doc_id % 3 = 0
       |ORDER BY t.doc_id""".stripMargin
  }

  val gated: Seq[Gated] = Seq(
    Gated("dd_incremental_lsh",   ddIncrementalLsh,   ddIncrementalLshSql),
    Gated("dd_exact",             ddExact,            ddExactSql),
    Gated("dd_apply",             ddApply,            ddApplySql),
    Gated("dd_apply_lsh",         ddApplyLsh,         ddApplyLshSql),
    Gated("dd_ngram_jaccard",     ddNgramJaccard,     ddNgramJaccardSql),
    Gated("dd_containment",       ddContainment,      ddContainmentSql),
    Gated("dd_containment_clean", ddContainmentClean, ddContainmentCleanSql),
    Gated("dd_minhash_lsh",       ddMinhashLsh,       ddMinhashLshSql),
    Gated("dd_minhash_est",       ddMinhashEst,       ddMinhashEstSql),
    Gated("dd_lsh_pr",            ddLshPr,            ddLshPrSql),
    Gated("dd_simhash",           ddSimhash,          ddSimhashSql),
    Gated("dd_embed_cosine",      ddEmbedCosine,      ddEmbedCosineSql),
    Gated("dd_incremental",       ddIncremental,      ddIncrementalSql),
    Gated("dd_incremental_bloom", ddIncrementalBloom, ddIncrementalBloomSql),
  )
}
