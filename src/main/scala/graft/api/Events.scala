package graft.api

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.operators.EventAnalytics
import graft.streaming.{DocStreams, EventStreams}

/** DataFrame/Dataset-first event-stream API: the engine's temporal
  * operators over ANY frames with the right columns, batch or
  * streaming. Thin, documented delegates to the same cores the gated
  * queries run; both as-of verbs run the one as-of exec.
  */
object Events {

  /** As-of (nearest-prior) join: for every probe row, attach the build
    * row with the greatest `buildTs <= probeTs` within the same key
    * (inner semantics) as an `asof` struct; the two sides may share
    * column names. Two co-partitioned sorted children and one merge
    * pass, no range explosion — see [[graft.plans.AsOf.joinNested]].
    */
  def asOfJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame =
    graft.plans.AsOf.joinNested(probe, build, probeKey, buildKey, probeTs,
      buildTs)

  /** [[asOfJoin]] with flat output columns `probe ++ build` instead of
    * an `asof` struct ([[graft.plans.AsOf.join]]); the sides' column
    * names must then be distinct.
    */
  def asOfJoinMerge(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame =
    graft.plans.AsOf.join(probe, build, probeKey, buildKey, probeTs, buildTs)

  /** Batch sessionization (30-min gap) of a typed event Dataset —
    * [[graft.streaming.EventStreams.sessionize]].
    */
  def sessionize(events: Dataset[EventStreams.Event])
      : Dataset[EventStreams.SessionOut] =
    EventStreams.sessionize(events)

  /** STREAMING sessionizer with event-time timeouts (open sessions
    * merge across micro-batches, emit when the watermark passes
    * end+gap) — [[graft.streaming.EventStreams.sessionizeStream]].
    */
  def sessionizeStream(events: Dataset[EventStreams.EventWithTs])
      : Dataset[EventStreams.SessionOut] =
    EventStreams.sessionizeStream(events)

  /** Watermark-bounded streaming exact dedup on `event_id` —
    * [[graft.streaming.EventStreams.streamingDedup]].
    */
  def streamingDedup(events: DataFrame): DataFrame =
    EventStreams.streamingDedup(events)

  /** Watermark-bounded streaming NEAR-dup dedup of a `(doc_id, text,
    * ts)` document stream via one MinHash band —
    * [[graft.streaming.DocStreams.streamingNearDup]]; the 16-band voted
    * verdict variant is
    * [[graft.streaming.DocStreams.streamingNearDupVoted]].
    */
  def streamingNearDup(docs: DataFrame): DataFrame =
    DocStreams.streamingNearDup(docs)

  /** Streaming as-of enrichment (latest same-user view at-or-before
    * each purchase, 1-hour lookback): stream-stream interval join
    * chained into a windowed max_by; batch frames give the same rows —
    * [[graft.streaming.EventStreams.latestViewBeforePurchase]].
    */
  def latestViewBeforePurchase(events: DataFrame): DataFrame =
    EventStreams.latestViewBeforePurchase(events)

  /** LEFT OUTER stream-stream interval join: every purchase appears,
    * with null view columns when its 1-hour lookback holds no same-user
    * view — unmatched rows emit once the watermark proves no match can
    * arrive. [[graft.streaming.EventStreams.purchaseViewJoinOuter]];
    * the inner form backs the gated join queries.
    */
  def purchaseViewJoinOuter(events: DataFrame): DataFrame =
    EventStreams.purchaseViewJoinOuter(events)

  /** CDC latest-by-key compaction (batch): one row per `key` holding
    * the lexicographic max of `cols` — put the event-time / version
    * columns first with a unique tiebreaker; trailing payload columns
    * ride along. Map-side partial max, one shuffle on the key —
    * [[graft.streaming.EventStreams.latestByKey]].
    */
  def latestByKey(df: DataFrame, key: String, cols: Seq[String]): DataFrame =
    EventStreams.latestByKey(df, key, cols)

  /** Continuously-maintained CDC snapshot: one state row per key holding
    * the latest event by (ts, id); update-mode re-emission on every
    * touched key — [[graft.streaming.EventStreams.latestByKeyStream]].
    * The batch aggregate form is the gated `st_latest_by_key`.
    */
  def latestByKeyStream(events: Dataset[EventStreams.Event])
      : Dataset[EventStreams.LatestOut] =
    EventStreams.latestByKeyStream(events)

  /** Per-user ordered-funnel depth over an arbitrary stage list
    * (chained running-window minima; the whole funnel must complete
    * within `horizonUs` of the user's first anchor event). Input needs
    * (user_id, event_type, ts_us, event_id); one shuffle on user_id —
    * [[graft.operators.EventAnalytics.funnelDepths]]. The gated 3-stage
    * histogram is `ev_funnel`.
    */
  def funnelDepths(events: DataFrame, stages: Seq[String],
      horizonUs: Long = EventAnalytics.FunnelHorizonUs): DataFrame =
    EventAnalytics.funnelDepths(events, stages, horizonUs)

  /** Cohort-retention triangle over `(user_id, day)` rows: users
    * grouped by first-activity day, counted on each later active day —
    * [[graft.operators.EventAnalytics.retentionTriangle]]. The gated
    * form is `ev_retention`.
    */
  def retentionTriangle(events: DataFrame): DataFrame =
    EventAnalytics.retentionTriangle(events)

  /** Hourly rate anomalies over `(event_type, ts_s)` rows: each hour's
    * count z-scored against its trailing 24 clock-hours, flagged at
    * |z| ≥ `zThresh` in exact integer arithmetic —
    * [[graft.operators.EventAnalytics.rateAnomalies]]. Gated form:
    * `ev_anomaly`.
    */
  def rateAnomalies(events: DataFrame,
      minPrev: Long = EventAnalytics.AnomalyMinPrev,
      zThresh: Long = EventAnalytics.AnomalyZ): DataFrame =
    EventAnalytics.rateAnomalies(events, minPrev, zThresh)

  /** Last-touch conversion attribution over `(user_id, event_type,
    * event_id, value, ts_us)` rows: each `convType` event credits the
    * user's most recent preceding touch within `horizonUs`, else
    * `direct`; one channel row with conversions, distinct buyers, and
    * revenue in integer cents —
    * [[graft.operators.EventAnalytics.lastTouchAttribution]]. Gated
    * form: `ev_attribution`.
    */
  def lastTouchAttribution(events: DataFrame,
      touchTypes: Seq[String] = EventAnalytics.TouchTypes,
      convType: String = "purchase",
      horizonUs: Long = EventAnalytics.AttributionHorizonUs): DataFrame =
    EventAnalytics.lastTouchAttribution(events, touchTypes, convType, horizonUs)

  /** STREAMING last-touch attribution: each conversion emits exactly
    * once — when the watermark passes its event time, at which point no
    * in-watermark touch can change the answer — with the same channel
    * the batch [[graft.operators.EventAnalytics.attributedPurchases]]
    * assigns. State per user is watermark-bounded (pending conversions
    * + in-flight touches collapsed behind the watermark) —
    * [[graft.streaming.EventStreams.attributionStream]].
    */
  def attributionStream(events: Dataset[EventStreams.EventWithTs],
      touchTypes: Seq[String] = EventAnalytics.TouchTypes,
      convType: String = "purchase",
      horizonNs: Long = EventAnalytics.AttributionHorizonUs * 1000L)
      : Dataset[EventStreams.AttrOut] =
    EventStreams.attributionStream(events, touchTypes, convType, horizonNs)

  /** First-order event-type transition matrix over `(user_id,
    * event_type, event_id, ts_us)` rows: per-user consecutive pairs
    * counted into `(from_type, to_type, n, n_from, p)` —
    * [[graft.operators.EventAnalytics.transitionMatrix]]. Gated form:
    * `ev_markov`.
    */
  def transitionMatrix(events: DataFrame): DataFrame =
    EventAnalytics.transitionMatrix(events)

  /** Top-k most-traveled length-3 event-type paths (user journeys)
    * over the same input shape —
    * [[graft.operators.EventAnalytics.topPaths]]. Gated form:
    * `ev_path`.
    */
  def topPaths(events: DataFrame,
      k: Int = EventAnalytics.PathTopK): DataFrame =
    EventAnalytics.topPaths(events, k)

  /** STREAMING anomaly scoring: watermarked hourly counts per event
    * type scored statelessly against a broadcast static baseline
    * (train the baseline batch-side with
    * [[graft.streaming.EventStreams.hourlyBaseline]] over history).
    * Same exact-integer z as [[rateAnomalies]]; batch twin gated as
    * `st_anomaly`.
    */
  def anomalyScoreStream(events: DataFrame, baseline: DataFrame,
      zThresh: Long = EventAnalytics.AnomalyZ): DataFrame =
    EventStreams.anomalyScoreStream(events, baseline, zThresh)

  /** STREAMING funnel: per-user depth emitted exactly when the
    * watermark proves the conversion window closed (event-time
    * timeout); state is one anchor + the still-qualifiable stage
    * events, watermark-bounded —
    * [[graft.streaming.EventStreams.funnelStream]].
    *
    * Pre-anchor eras are SILENT (no depth-0 rows): a user emits
    * exactly one row — the anchored era's depth, always ≥ 1 — so
    * append-mode consumers can count rows directly, matching
    * [[funnelDepths]] for every ANCHORED user whose events the
    * watermark admits. Users whose events never anchor emit nothing
    * (their depth 0 is only decidable at stream end; the batch form
    * reports them). A second anchor arriving more than a horizon
    * after the first era closed opens a fresh era and emits again —
    * bounded state cannot remember all past anchors.
    */
  def funnelStream(events: Dataset[EventStreams.EventWithTs],
      stages: Seq[String], horizonNs: Long)
      : Dataset[EventStreams.FunnelOut] =
    EventStreams.funnelStream(events, stages, horizonNs)

  // ── Persisted growth ledger ─────────────────────────────────────────
  //
  // The `ev_lifecycle` growth-accounting ledger as a MAINTAINED
  // artifact: the same versioned-tables + atomic-one-row-pointer
  // lifecycle every index family uses (`<name>__act` = the deduped
  // (user_id, day) activity relation, `<name>__ledger` = the per-day
  // ledger, `<name>__gl` = the pointer pinning both plus the consumed
  // events version). The refresh is CDC-composable and O(delta ·
  // affected-user history), NOT O(all events): growth accounting is
  // per-user decomposable (a user's classification depends only on
  // their own day set), so the nightly pass re-derives ONLY the
  // delta's users — subtract their old per-day contribution, add the
  // new one, rewrite the per-day ledger (O(#days), tiny at any corpus
  // size) and append only the genuinely new (user, day) rows to the
  // activity table, base-pinned so a crashed or double-fired refresh
  // can never double-count.

  private def activityOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    ev.select(col("user_id"),
        expr(s"(ts_ns DIV 1000) DIV ${EventAnalytics.UsPerDay}").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      .drop("n")
  }

  /** Bucket count of the activity table's physical layout. The table
    * is written with an explicit `bucket = pmod(hash(user_id), B)`
    * column, range-repartitioned and sorted by (bucket, user_id) — so
    * every file carries tight min/max statistics on both columns, and
    * the refresh's affected-user read pushes `bucket IN (…)` down to
    * the parquet scan, skipping the files of untouched buckets. The
    * prune bites when a delta's users concentrate in few buckets (the
    * high-cadence / backfill case); a delta spanning every bucket
    * degrades gracefully to the full scan it replaced. The sorted
    * user_id within each file adds row-group skipping on top.
    */
  val ActivityBuckets = 32

  /** The activity frame in its bucketed physical layout (see
    * [[ActivityBuckets]]) — every writer of `<name>__act` goes through
    * this so base snapshots and appended deltas prune identically.
    */
  private[api] def bucketedAct(act: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    act.withColumn("bucket",
        pmod(hash(col("user_id")), lit(ActivityBuckets)))
      .repartitionByRange(ActivityBuckets, col("bucket"))
      .sortWithinPartitions("bucket", "user_id", "day")
  }

  /** The pinned activity snapshot restricted to `affected` users —
    * the refresh's only read of history, bucket-pruned: only the
    * parquet files whose bucket range intersects the affected users'
    * buckets are scanned (an unbucketed legacy table degrades to the
    * full-scan semi-join). The bucket set is at most
    * [[ActivityBuckets]] values — a model-sized driver collect.
    */
  private[graft] def affectedActivity(storage: graft.sources.Storage,
      name: String, actVersion: Long, affected: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val snap =
      storage.readVersioned(Pointers.Ledger.table(name, "activity"), actVersion)
    val pruned =
      if (!snap.columns.contains("bucket")) snap
      else {
        val buckets = affected
          .select(pmod(hash(col("user_id")), lit(ActivityBuckets)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        snap.filter(col("bucket").isInCollection(buckets)).drop("bucket")
      }
    pruned.join(affected, Seq("user_id"), "left_semi")
  }

  private val LedgerCols =
    Seq("n_active", "n_new", "n_retained", "n_resurrected", "n_churned")

  /** Build and persist the growth ledger over a versioned events table
    * (rows must expose `user_id` and `ts_ns`). Returns the pointer
    * version. Re-running replaces the artifact (new versions of both
    * tables, one new pointer) — the from-scratch arm
    * [[refreshGrowthLedger]] is certified against.
    */
  def buildGrowthLedger(storage: graft.sources.Storage,
      eventsTable: String, name: String): Long = {
    val vcs = storage.versions(eventsTable)
    require(vcs.nonEmpty, s"no versioned events table '$eventsTable'")
    val curV = vcs.last
    val act = activityOf(storage.readVersioned(eventsTable, curV))
    val L = Pointers.Ledger
    L.commit(storage, name,
      "act_version" -> L.put(storage, name, "activity", bucketedAct(act)),
      "ledger_version" ->
        L.put(storage, name, "ledger", EventAnalytics.growthAccounting(act)),
      "events_version" -> curV)
  }

  /** The ledger at the pointer's pinned version (time-travel with
    * `pointerVersion`), ordered by day.
    */
  def readGrowthLedger(storage: graft.sources.Storage, name: String,
      pointerVersion: Long = -1L): DataFrame = {
    val ptr = Pointers.Ledger.row(storage, name, pointerVersion)
    Pointers.Ledger.read(storage, name, ptr, "ledger").orderBy("day")
  }

  /** CDC-driven incremental maintenance of a persisted growth ledger —
    * the nightly loop: consume the events appended since the pointer's
    * pinned events version ([[graft.sources.Storage.readVersionedSince]],
    * zero base scans), re-derive the per-day contribution of ONLY the
    * delta's users (old activity ∪ delta vs old activity — per-user
    * decomposability makes the difference exact; the affected-user
    * read of the activity table is BUCKET-PRUNED, see
    * [[affectedActivity]], so it reads the touched buckets' files,
    * not all history), fold it into the
    * per-day ledger, append the genuinely new (user, day) rows onto
    * the PINNED activity version
    * ([[graft.sources.Storage.appendVersionedOnto]] — a refresh that
    * died between its appends and its pointer commit, or a double-fired
    * cron, rebuilds from the same base and can never double-count),
    * and publish one atomic pointer. Returns the new pointer version;
    * a no-op (events unchanged) returns the current one. The refreshed
    * ledger is row-identical to a from-scratch rebuild — spec-pinned.
    */
  def refreshGrowthLedger(storage: graft.sources.Storage,
      eventsTable: String, name: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val L = Pointers.Ledger
    L.refresh(storage, name, "events", eventsTable, activityOf) {
      (ptr, deltaAct, _, head) =>
        val affected = deltaAct.select(col("user_id")).distinct()
        // bucket-pruned: only the files of touched buckets are read —
        // see [[affectedActivity]]; the prune is plan-audited in
        // EventsLedgerSpec
        val oldActAff = affectedActivity(storage, name,
          L.pinned(ptr, "activity"), affected).localCheckpoint()
        try {
          val newRows =
            deltaAct.join(oldActAff, Seq("user_id", "day"), "left_anti")
          // a delta that only re-asserted known (user, day) activity
          // cannot have changed the ledger — re-pin, write nothing
          if (newRows.isEmpty)
            L.recommit(storage, name, ptr, "events_version" -> head)
          else {
            val newActAff = oldActAff.unionAll(deltaAct)
              .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
              .drop("n")
            val oldC = EventAnalytics.growthAccounting(oldActAff)
            val newC = EventAnalytics.growthAccounting(newActAff)
            def tag(side: DataFrame, t: String) = side.select(
              col("day") +: LedgerCols.map(c => col(c).as(c + t)): _*)
            val diff = tag(newC, "_n").join(tag(oldC, "_o"), Seq("day"),
                "full_outer")
              .select(col("day") +: LedgerCols.map(c =>
                (coalesce(col(c + "_n"), lit(0L)) -
                  coalesce(col(c + "_o"), lit(0L))).as(c + "_d")): _*)
            val merged = L.read(storage, name, ptr, "ledger")
              .join(diff, Seq("day"), "full_outer")
              .select(col("day") +: LedgerCols.map(c =>
                (coalesce(col(c), lit(0L)) +
                  coalesce(col(c + "_d"), lit(0L))).as(c)): _*)
              // a fully-cancelled day (its only contributors reclassified
              // away) must vanish, as it would in a from-scratch ledger
              .filter(LedgerCols.map(col(_) =!= 0L).reduce(_ || _))
            val vl = L.put(storage, name, "ledger", merged)
            // the appended delta dirs carry the SAME layout as the base
            // snapshot: bucketed onto a bucketed base (so future refreshes
            // prune them identically), raw onto a legacy unbucketed base
            // (appending a bucket column there would trip the append
            // schema gate and wedge every nightly refresh)
            val bucketed =
              L.read(storage, name, ptr, "activity").columns.contains("bucket")
            val va = L.appendOnto(storage, name, ptr, "activity",
              if (bucketed) bucketedAct(newRows) else newRows)
            L.commit(storage, name, "act_version" -> va,
              "ledger_version" -> vl, "events_version" -> head)
          }
        } finally graft.operators.Artifacts.freeLocalCheckpoint(oldActAff)
    }
  }

  /** Pointer-aware retention for a ledger family: retain the last
    * `keepLastPointers` pointers, vacuum the activity and ledger tables
    * keeping exactly the versions those pointers pin — same rule as
    * every index family ([[Corpus.vacuumAnnIndex]]).
    */
  def vacuumGrowthLedger(storage: graft.sources.Storage, name: String,
      keepLastPointers: Int): (Int, Int) =
    Pointers.Ledger.vacuum(storage, name, keepLastPointers)
}
