package graft

import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan regression guards: the properties `.explain` review
  * established for the flagship queries, pinned as assertions so a
  * refactor that silently degrades the plan (lost pushdown, a join
  * falling back to nested-loop, a dropped broadcast) fails the build,
  * not the next 100 TB run.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(SimpleMode)

  test("dimension join broadcasts the small side") {
    assert(plan("q4_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("scan-level filter pushdown and column pruning reach the parquet reader") {
    val p = plan("q2_filter_topn")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "expected shipdate pushdown in:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-N must not global-sort")
    // q1 projects 6 of 11 lineitem columns; pruning must drop the rest
    val q1 = plan("q1_agg")
    assert(!q1.contains("l_suppkey") && !q1.contains("l_partkey"),
      "q1 scan should prune unused columns:\n" + q1)
  }

  test("declarative window top-k plans through WindowGroupLimit") {
    assert(plan("q9_window_topk").contains("WindowGroupLimit"))
  }

  test("semi/anti joins plan as semi/anti, shipping keys only") {
    assert(plan("q7_semi_join").contains("LeftSemi"))
    assert(plan("q8_anti_join").contains("LeftAnti"))
  }

  test("LSH candidate joins are equi joins, never nested-loop") {
    Seq("dd_minhash_lsh", "dd_simhash", "dd_apply_lsh",
      "mm_phash_dup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must bucket-join, got:\n" + p)
    }
  }

  test("chunking is map-side: its only exchange is the presentation sort") {
    val p = plan("ta_chunk")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("packing shuffles once for the per-shard window plus the presentation sort") {
    val p = plan("ta_pack")
    assert("Exchange".r.findAllIn(p).size == 2, p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("hash split and mixture are map-side: only the presentation exchange") {
    Seq("cp_split" -> "rangepartitioning", // presentation sort
      "cp_mixture" -> "hashpartitioning(source").foreach { case (q, kind) =>
      val p = plan(q)
      // split: scan -> project -> sort; mixture: scan -> partial agg ->
      // one keyed exchange -> final agg -> sort
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2 && p.contains(kind),
        s"$q expected map-side shape with $kind, got:\n$p")
    }
    // the split itself must not shuffle data before the sort: no
    // hashpartitioning exchange at all
    assert(!plan("cp_split").contains("Exchange hashpartitioning"),
      "cp_split must not shuffle")
  }

  test("repetition and quantization run as native kernels with zero data shuffles") {
    Seq("ta_repetition" -> "repetition_stats",
      "emb_quantize" -> "quantize_i8").foreach { case (q, kernel) =>
      val p = plan(q)
      assert(p.contains(kernel), s"$q must plan the native kernel:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle data:\n$p")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // GraftSession enables these for engine users; set them on the
    // shared test session just for this audit (broadcast disabled so
    // the join actually shuffles — at real scale the fact side always
    // does)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions.col
      val o = graft.sources.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val l = graft.sources.Tables.lineitem(spark, sf0001)
      val p = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .queryExecution.explainString(SimpleMode)
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("incremental pair mining serves with keyed joins only — no nested loop, no retrain nodes") {
    // the served plan reads the checkpointed base index (LogicalRDD
    // scans, not a re-derivation) and joins probes to lists on the
    // cell key; any CartesianProduct / BroadcastNestedLoopJoin here
    // means the index degenerated to all-pairs
    val p = plan("pipe_pairs_upsert")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pipe_pairs_upsert must stay keyed:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed base-index scans in:\n$p")
  }

  test("PII scrub is scan-bound: the only exchange is the presentation sort") {
    val p = plan("ta_pii")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("space-saving aggregate plans as partial+final object aggregation, no Expand") {
    val p = plan("ta_heavy_hitters")
    // partial summaries merge through the shuffle — two object-agg
    // levels for the sketch, and no Expand anywhere (the
    // countDistinct-with-sketch trap)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Expand"), p)
  }

  test("custom top-k operator plans with exactly one exchange on the group keys") {
    val p = plan("q28_topk_custom")
    assert(p.contains("TopKPerGroup"))
    // one hash exchange for ClusteredDistribution + the presentation
    // sort's range exchange — no more
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("correlated EXISTS plans as one hash semi-join, never nested-loop") {
    val p = plan("q41_exists_correlated")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("kNN self-join scores candidates through the cell equi-join, not a pair cross-join") {
    val p = plan("sim_knn_join")
    // the corpus×corpus side must join on the cell key; assignment and
    // probe lists come from the map-side kernels (no n×k cross join
    // survives), so any cross/cartesian in the plan is a bug
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join keys on cell either way Spark sizes it: a
    // shuffled hash join at corpus scale, or (post-kernel, with
    // estimable map-side inputs) a broadcast hash join at test scale
    assert(p.contains("hashpartitioning(cell") ||
      "BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined, p)
    assert(p.contains("nearest_cell") && p.contains("probe_cells"),
      s"coarse assignment/probing must run the native kernels:\n$p")
    // per-vector top-k must prune inside each partition before the
    // window, never global-sort the scored pairs
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("latest-by-key compacts map-side: partial max(struct) before the one exchange") {
    val p = plan("st_latest_by_key")
    // partial_max on the map side — the changelog compacts before it
    // ships; one hash exchange on the key + the presentation sort
    assert(p.contains("partial_max"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("exact-dedup canonical selection partial-aggregates; no window over the fingerprint") {
    // a window over fp puts a 10⁷-copy duplicate group into ONE
    // AQE-unsplittable sort partition; the groupBy form's map-side
    // partial_min collapses it per-task before the exchange
    Seq("dd_exact", "dd_apply").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not window over fp:\n$p")
      assert(p.contains("partial_min"),
        s"$q canonical must partial-aggregate:\n$p")
    }
    // pipe_e2e's serve plan reads the session-cached QA-survivor
    // checkpoint, so the survivor selection is pinned on the BUILD
    // relation (the same split as pipe_qa below)
    val keptBuild = graft.operators.Pipeline.cachedQaKept.build(spark, sf0001)
      .queryExecution.explainString(SimpleMode)
    // the survivor-selection markers: the md5 fingerprint and the
    // partial min keyed on it
    def selectsSurvivors(p: String): Boolean = p.contains("md5(") &&
      p.linesIterator.exists(_.matches(".*keys?=\\[fp#.*partial_min.*"))
    assert(selectsSurvivors(keptBuild),
      s"QA-survivor selection must partial-aggregate on fp:\n$keptBuild")
    assert(!keptBuild.contains("windowspecdefinition(fp"),
      s"QA-survivor selection must not window over fp:\n$keptBuild")
    val e2eServe = plan("pipe_e2e")
    assert(e2eServe.contains("ExistingRDD") || e2eServe.contains("LogicalRDD"),
      s"pipe_e2e's serve plan must replay the survivor checkpoint:\n$e2eServe")
    assert(!e2eServe.contains("md5(") && !selectsSurvivors(e2eServe),
      s"pipe_e2e must not rebuild the survivor selection inline:\n$e2eServe")
    // pipe_qa's serve plan reads its (doc_id, n_tokens) checkpoint, so
    // the survivor selection is pinned on the BUILD relation (the
    // sim_ivf train/serve split pattern)
    val build = graft.operators.Pipeline.qaCountedRel(spark, sf0001)
      .queryExecution.explainString(SimpleMode)
    assert(build.contains("partial_min"),
      s"pipe_qa survivor selection must partial-aggregate:\n$build")
    assert(!build.contains("windowspecdefinition(fp"),
      s"pipe_qa must not window over fp:\n$build")
    val serve = plan("pipe_qa")
    assert(serve.contains("ExistingRDD") || serve.contains("LogicalRDD"),
      s"pipe_qa's serve plan must replay the counted checkpoint:\n$serve")
  }

  test("trained-IVF probing: kernel assignment/probing, rank top-k prunes map-side, no cartesian") {
    val p = plan("sim_ivf")
    // query probing runs the one-pass native kernel; the corpus side
    // reads the PERSISTED inverted lists (the checkpointed IVF-Flat
    // index — serve must not re-run the n×k assignment per query)
    assert(p.contains("probe_cells"),
      s"probe ranking must run the native kernel:\n$p")
    assert(!p.contains("nearest_cell"),
      s"serve plan must read the persisted lists, not re-assign the corpus:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"corpus side must scan the checkpointed inverted lists:\n$p")
    // the final per-query top-k still collapses to top-rank rows
    // BEFORE any exchange (WindowGroupLimit partial)
    assert(p.contains("WindowGroupLimit"), p)
    // a non-broadcast cartesian of two big sides is forbidden
    assert(!p.contains("CartesianProduct"), p)
  }

  test("composed ingest pipeline: survivor selection partial-aggregates, chunk stats shuffle on the window key") {
    val p = plan("pipe_ingest")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("windowspecdefinition(fp"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("the composed QA pipeline keeps its running sum bucket-partitioned") {
    val p = plan("pipe_qa")
    // the token-budget stage inside the composition must stay two-phase
    assert(p.contains("hashpartitioning(__b"),
      s"pipe_qa's budget cut must exchange on the bucket key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup: keyed anti-join exact arm; bloom arm probes map-side then confirms") {
    val pi = plan("dd_incremental")
    assert(pi.contains("LeftAnti") && !pi.contains("CartesianProduct"), pi)
    val pb = plan("dd_incremental_bloom")
    // the map-side bloom probe must survive planning (it is what spares
    // the bloom-negative batch rows the shuffle), and the confirm arm
    // must stay a keyed anti-join
    assert(pb.contains("might_contain"),
      s"bloom probe must be in the plan:\n$pb")
    assert(pb.contains("LeftAnti") && !pb.contains("CartesianProduct"), pb)
  }

  test("PQ trains/encodes via broadcast codebooks with map-side-pruned argmax windows") {
    // training runs once per (session, dir) and is served from the
    // index cache, so the TRAINING plan is audited on pqIndex itself.
    // Since the kernel-looped Lloyd, each round's per-(vector, sub)
    // argmax runs INSIDE the map-side pq_encode kernel (no scored-row
    // materialization at all); the round's only exchange is the
    // partial-aggregated (sub, cell, dim) mean update
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val train = graft.operators.Similarity.pqIndex(e, e.count())
      .queryExecution.explainString(SimpleMode)
    assert(train.contains("pq_encode"),
      s"PQ training must assign via the native kernel:\n$train")
    assert(!train.contains("CartesianProduct"), train)
    assert(!train.contains("Window"),
      s"no argmax window should survive in the kernel-looped Lloyd:\n$train")
    // the gated query scans the cached codebooks AND codes table (both
    // halves of the persisted index); the ADC shortlist and exact
    // refine windows still rank-prune map-side
    val p = plan("sim_pq")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"PQ rank windows must prune map-side:\n$p")
    // codebooks/LUT/query frames ride broadcasts; the corpus-sized
    // side must never be cartesian-joined
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
  }

  test("pair mining: QA survivors partial-aggregate, index joins never cartesian") {
    // the QA-survivor selection runs once into the kept-corpus
    // checkpoint, so its skew-safe partial-aggregated min is pinned on
    // the BUILD relation (the sim_ivf train/serve split pattern) …
    val build = graft.operators.Pipeline
      .keptVecIds(graft.sources.Tables.documents(spark, sf0001))
      .queryExecution.explainString(SimpleMode)
    assert(build.contains("partial_min"),
      s"survivor selection must partial-aggregate:\n$build")
    assert(!build.contains("Window"),
      s"survivor selection must not window over fp:\n$build")
    // … while the serve plan probes the materialized kept corpus: no
    // cartesian, native kernels, map-side-pruned rank windows
    val p = plan("pipe_pairs")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"the mining join must read the kept-corpus checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("nearest_cell") && p.contains("probe_cells"),
      s"index assignment/probing must run the native kernels:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("diversity scoring partial-aggregates both moment passes; no window") {
    val p = plan("ta_diversity")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"ta_diversity must map-side partial both aggs:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("boilerplate scoring reuses the shingle exchange and never windows") {
    val df = SparkEntry.queries("ta_boilerplate")(spark, sf0001)
    val p = df.queryExecution.explainString(SimpleMode)
    assert(p.contains("partial_count"),
      s"doc-frequency must partial-aggregate:\n$p")
    assert(!p.contains("Window"), p)
    // exchange reuse is an AQE-final-plan property: execute, then audit
    df.collect()
    val fin = df.queryExecution.explainString(SimpleMode)
    assert(fin.contains("ReusedExchange"),
      s"the (doc, shingle) exchange must be shared across arms:\n$fin")
  }

  test("containment join is an equi join over the capped postings, never nested-loop") {
    val p = plan("dd_containment")
    assert(p.contains("LeftAnti"),
      s"the stop-shingle cap must plan as an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("anomaly scoring windows run over the pre-aggregated hourly rollup") {
    val p = plan("ev_anomaly")
    // the rollup must partial-aggregate (it absorbs the raw volume)...
    assert(p.contains("partial_count"), p)
    // ...and the trailing-stats window must be keyed by event_type over
    // those rollup rows, not the raw stream
    assert(p.contains("windowspecdefinition(event_type"), p)
    val ps = plan("st_anomaly")
    // the streaming twin scores via a broadcast baseline join: no
    // window at all, one aggregation each side
    assert(!ps.contains("Window") && ps.contains("BroadcastHashJoin"), ps)
  }

  test("domain cap plans through the bounded heap, not a sort window") {
    val p = plan("cp_domain_cap")
    assert(p.contains("TopKPerGroup"),
      s"the cap must use the heap operator:\n$p")
    assert(!p.contains("Window") && !p.contains("WindowGroupLimit"),
      s"no per-domain sort window allowed:\n$p")
    // one hash exchange on source + the presentation sort, nothing else
    assert("Exchange".r.findAllIn(p).size == 2, p)
  }

  test("duplicate-aware sampling broadcasts the cluster-size table") {
    val p = plan("cp_dup_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"the size table must broadcast back, got:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("attribution and markov share one user_id exchange and never self-join events") {
    val pa = plan("ev_attribution")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(pa).size == 1,
      s"both window carries must share ONE user partitioning:\n$pa")
    assert(!pa.contains("SortMergeJoin") && !pa.contains("BroadcastHashJoin"),
      s"attribution must not join events against itself:\n$pa")
    val pm = plan("ev_markov")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(pm).size == 1,
      s"the corpus-sized lag branch must run once:\n$pm")
    assert(pm.contains("partial_count"),
      s"transition counts must partial-aggregate:\n$pm")
    // n_from comes from a window over the tiny counts relation — the
    // self-join form would re-scan + re-window the corpus
    assert(!pm.contains("Join"), s"no counts self-join allowed:\n$pm")
  }

  test("bigram scoring joins on equi keys with partial-aggregated counts") {
    val p = plan("ta_bigram_score")
    assert(p.contains("partial_count"),
      s"both count tables must map-side partial:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("SCD2 compaction: one user_id exchange shared by windows and the run aggregate") {
    val p = plan("ev_scd2")
    // the change-flag window, the (user_id, run) aggregate, and the
    // interval-chaining lead all reuse ONE user_id hash exchange —
    // ClusteredDistribution(user_id, run) is satisfied by the subset
    // hash, so a second exchange appearing means the reuse broke
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"all three stages must share ONE user partitioning:\n$p")
    assert("Exchange".r.findAllIn(p).size == 2,
      s"only the user hash + presentation sort may exchange:\n$p")
    assert(!p.contains("Join"), s"no self-join of the changelog:\n$p")
  }

  test("growth ledger: single-pass explode, one rollup, never a branch join") {
    val p = plan("ev_lifecycle")
    // the two-entry ledger explosion replaces the naive statuses ⋈
    // churn full-outer shape — the corpus subtree must appear ONCE
    assert(!p.contains("Join"), s"no statuses/churn branch join:\n$p")
    assert(p.contains("Generate explode"),
      s"the ledger entries must come from the explode:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 2,
      s"only the (user,day) dedup + the user window may hash on user_id:\n$p")
    // the dedup count is optimized away to a pure distinct aggregate
    // (functions=[]) with a map-side partial; the rollup partial-sums
    assert("HashAggregate\\(keys=\\[user_id#\\d+L?, day#\\d+L?\\], functions=\\[\\]\\)"
      .r.findAllIn(p).size == 2,
      s"the (user, day) dedup must partial+final as a pure distinct:\n$p")
    assert(p.contains("partial_sum"),
      s"the day rollup must map-side partial:\n$p")
  }

  test("stickiness: DAU rides the window expansion — one rollup, no dau⋈wau join") {
    val p = plan("ev_stickiness")
    assert(!p.contains("Join"), s"no dau/wau branch join:\n$p")
    assert(p.contains("Generate explode"),
      s"the sliding windows must come from the sequence explode:\n$p")
    assert(!p.contains("Window"),
      s"sliding distinct is NOT expressible as a window — the explode" +
        s" rewrite must not regress into one:\n$p")
    assert(p.contains("partial_count"),
      s"the (user, day) dedup must map-side partial:\n$p")
  }

  test("textrank: iterations run over the checkpointed graph, never the corpus; top-k is a bounded take") {
    val p = plan("ta_textrank")
    // the co-occurrence graph is built once and localCheckpointed; ten
    // rank iterations re-reading parquet would be a 10x corpus-scan
    // regression
    assert(!p.contains("FileScan"),
      s"the rank loop must touch only the checkpointed graph:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as a bounded take, not a global sort:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("summarize: per-doc sentence pairs come from the posting equi-join, never a cross-join") {
    // the gated query serves a session-cached checkpoint (its plan is
    // a scan) — audit the REAL build/serve plan underneath
    val (lazyOut, finalCk) = graft.operators.GraphRank.summarizeBuild(
      graft.sources.Tables.documents(spark, sf0001))
    val p = lazyOut.queryExecution.explainString(SimpleMode)
    graft.operators.Artifacts.freeLocalCheckpoint(finalCk)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the sentence-pair join must stay an equi-join on (doc_id, tok):\n$p")
    // the per-doc argmax plans through WindowGroupLimit (top-1 pruned
    // map-side), not a full per-doc sort materialization
    assert(p.contains("WindowGroupLimit"),
      s"the per-doc winner must plan as a group limit:\n$p")
  }

  test("data card: broadcast-only joins over partial-aggregated summaries") {
    val p = plan("cp_datacard")
    // every sub-aggregate unifies on a ≤|sources| relation: the joins
    // must all broadcast, and nothing may fall back to SMJ/NLJ of the
    // corpus against itself
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"summary joins must broadcast:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"per-source moments must map-side partial:\n$p")
    // the exact median must come from histogram selection, not a
    // corpus-wide per-group rank (the low-cardinality window trap).
    // Plan strings print attributes WITH expression ids
    // (`source#12, n_chars#13`), so match with an id-tolerant regex —
    // a literal "source, n_chars" can never appear and would make the
    // guard vacuous.
    assert("""windowspecdefinition\(source#\d+, n_chars#\d+""".r
        .findFirstIn(p).isEmpty,
      s"median must not rank every doc per source:\n$p")
  }

  test("tokenize pipeline: partial-agg survivor, broadcast vocab join, shard-partitioned pack window") {
    val p = plan("pipe_tokenize")
    // prefix dedup must stay the struct-min partial aggregate, never a
    // window over the fingerprint (the unsplittable hot-fp trap)
    assert(p.contains("partial_min"),
      s"survivor selection must partial-aggregate:\n$p")
    assert(!p.contains("windowspecdefinition(fp"),
      s"no window over fp:\n$p")
    // occurrences join the tokenized vocabulary by broadcast — the
    // corpus side must never shuffle for this join
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n$p")
    // the packing cumsum runs per shard, not as one global window
    assert(p.contains("hashpartitioning(shard"),
      s"pack window must partition by shard:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("MMR rerank: materialized pool, partial-aggregated greedy argmax") {
    val p = plan("sim_mmr")
    // the k greedy rounds must reread the localCheckpointed pool, not
    // re-run the candidate scan per round
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"pool must be materialized once:\n$p")
    // each selection is an order-free struct argmax, map-side partialed
    assert(p.contains("partial_max"),
      s"greedy picks must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("MMR served rerank: materialized served pool, same greedy shape") {
    // the gate's own plan starts AFTER the pool checkpoint, so the
    // serve-side shape (kernel probing, persisted lists, no corpus
    // re-assignment) is pinned where it lives: on the pool plan the
    // rerank materializes — ivfServeTopK, the exact plan the sim_ivf
    // test audits. Here: greedy stays pool-sized and partial-aggregated.
    val p = plan("sim_mmr_served")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"pool must be materialized once:\n$p")
    assert(p.contains("partial_max"),
      s"greedy picks must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-sized relations (documents/embeddings parquet) must
    // not appear in the rerank plan at all — only pool-derived scans
    assert(!p.contains("Scan parquet"),
      s"rerank must never rescan the corpus:\n$p")
  }

  test("global-window inventory: every unpartitioned Window in every query runs over a bounded relation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    // The full sweep: an unpartitioned Window sorts its ENTIRE input
    // in one task — fine over a model/presentation-sized relation,
    // a scale-killer over the corpus. This pin walks the OPTIMIZED
    // logical plan of every registered query, so a refactor that
    // regresses any query to a corpus-sized global window (or adds a
    // new one) fails here, not in a 100 TB run's straggler task.
    // Warning noise ("No Partition Defined for Window operation") can
    // then always be matched against this committed inventory.
    def globalWindows(name: String): Seq[LWindow] =
      // a plan that fails to BUILD fails the audit (it would otherwise
      // silently shrink the sweep — a planner regression must surface
      // here, not as a smaller inventory)
      (try SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan
       catch { case e: Throwable =>
         fail(s"$name: plan failed to build, shrinking the audit: $e") })
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    // the queries ALLOWED an unpartitioned window, each with the
    // AUDITED GROUPING KEYS that bound its window input's cardinality
    // (bucket prefixes <= 256, domains/langs, path triples) — a
    // corpus-keyed aggregate (groupBy(doc_id): one row per document)
    // must NOT satisfy the witness, so the keys are pinned by name:
    //   cp_shuffle      — the 256-row per-bucket count table
    //   cp_token_budget — the 256-row per-bucket token totals
    //   cp_waterfill    — the per-domain capacity table
    //   ev_path         — the per-path count table (<= |types|^3)
    //   pipe_qa         — tokenBudget's 256-row offsets, by composition
    //   pipe_mix        — waterfillAlloc over the per-lang caps, by
    //                     composition (the optimizer splits its spec
    //                     into several Window nodes, all caps-sized)
    val auditedKeys: Map[String, Set[String]] = Map(
      "cp_shuffle"      -> Set("__b"), // the md5 bucket prefix, <= 256
      "cp_token_budget" -> Set("__b"),
      "cp_waterfill"    -> Set("domain", "lang"),
      "ev_path"         -> Set("path"),
      "pipe_qa"         -> Set("__b"),
      "pipe_mix"        -> Set("lang", "domain"))
    val allowed = auditedKeys.keySet
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val gw = globalWindows(name)
      if (gw.nonEmpty && !allowed.contains(name)) Some(name -> gw.size)
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the audited inventory: $offenders")
    // each allowed site's window input must be an aggregate whose
    // grouping keys are exactly the audited bounded-cardinality keys —
    // "some Aggregate, somewhere" is not enough (a 500k-row
    // groupBy(doc_id) is an Aggregate too)
    def boundedWitness(name: String, p: LogicalPlan): Boolean = {
      val keys = auditedKeys(name)
      p.collectFirst {
        case a: Aggregate if a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(_.references.nonEmpty) &&
          a.groupingExpressions.flatMap(_.references).forall(r =>
            keys.exists(k => r.name.toLowerCase.contains(k))) => a
      }.nonEmpty
    }
    allowed.toSeq.sorted.foreach { name =>
      val gw = globalWindows(name)
      assert(gw.nonEmpty,
        s"$name: expected its audited global window (update the inventory)")
      gw.foreach { w =>
        assert(boundedWitness(name, w.child),
          s"$name: a global window no longer sits over its audited " +
            s"bounded-key aggregate (${auditedKeys(name)}):\n" +
            w.child.treeString)
      }
    }
    // the witness itself must REJECT a corpus-keyed aggregate: a
    // deliberately-injected groupBy(doc_id) global window (one row per
    // document — 500k+ at scale) under any audited query fails the
    // sweep instead of slipping through as "some aggregate"
    import org.apache.spark.sql.functions.{col, count, lit, row_number}
    val injected = graft.sources.Tables.documents(spark, sf0001)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
      .queryExecution.optimizedPlan
      .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(injected.nonEmpty, "the injection fixture must plan a global window")
    allowed.foreach { name =>
      injected.foreach { w =>
        assert(!boundedWitness(name, w.child),
          s"$name: the witness accepted a corpus-keyed (doc_id) aggregate")
      }
    }
  }

  test("curriculum: decile fences broadcast onto the corpus") {
    val p = plan("cp_curriculum")
    // joining on the constant __g folds the key away, so the 1-row
    // fence frame arrives as a BroadcastNestedLoopJoin build side —
    // a map-side append of nine columns, the intended shape (what
    // must NEVER appear is a corpus-side shuffle for this join)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row fence frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), p)
  }
}
