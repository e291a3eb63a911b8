package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Gated
import graft.sources.Tables.events

/** Behavioral event analytics: ordered funnels and cohort retention.
  *
  * The reference has no multi-event analysis at all (its two jobs are
  * per-record map + per-key reduce, SURVEY.md §2d); these are the two
  * canonical large-scale event-warehouse queries a Spark engine is
  * expected to answer over a 100 TB click stream.
  *
  * Both operators shuffle ONCE on `user_id` and keep every per-user
  * computation inside that partition (window functions / partial
  * aggregation), so the plan scales with the number of users, not with
  * any cross-user product. The final stage aggregates a per-user row —
  * orders of magnitude smaller than the input — onto a tiny result.
  */
object EventAnalytics {

  /** Conversion horizon: the whole funnel must complete within this many
    * microseconds of the user's FIRST view (the anchor event).
    */
  val FunnelHorizonUs: Long = 24L * 3600 * 1000000

  /** Per-user funnel depth over an ARBITRARY ordered stage list — the
    * frame-parametric core behind [[evFunnel]] and
    * `graft.api.Events.funnelDepths`.
    *
    * Chained running-window minima implement the ORDER constraint
    * declaratively (no per-user collect, no UDAF, no k-way self-join):
    *   - `s0` = running min of stage-0 timestamps — constant once set
    *     (rows arrive in ts order, so it IS the user's first anchor
    *     event);
    *   - `sᵢ` = running min of stage-i events that already saw `sᵢ₋₁`
    *     set and fall inside the horizon — the first QUALIFIED stage-i
    *     event;
    *   - the last stage needs no window of its own: the per-user
    *     aggregate checks its condition row-locally.
    * Because the window order is (ts, event_id), "sᵢ IS NOT NULL at
    * this row" literally means "stage i happened before this event" —
    * no timestamp comparison between stages beyond the horizon bound.
    *
    * One shuffle: every window and the per-user aggregate share the
    * `user_id` hash partitioning. Input needs (user_id, event_type,
    * ts_us, event_id). Output: one row per user with `funnel_depth`
    * (0..stages.length).
    */
  def funnelDepths(ev: DataFrame, stages: Seq[String],
      horizonUs: Long = FunnelHorizonUs): DataFrame = {
    require(stages.length >= 2, "a funnel needs at least two stages")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = stages.length
    var df = ev.withColumn("s0",
      min(when(col("event_type") === stages.head, col("ts_us"))).over(w))
    for (i <- 1 until k - 1)
      df = df.withColumn(s"s$i",
        min(when(col("event_type") === stages(i) &&
          col(s"s${i - 1}").isNotNull &&
          col("ts_us") <= col("s0") + horizonUs, col("ts_us"))).over(w))
    val depth = {
      var c = when(col("event_type") === stages.last &&
        col(s"s${k - 2}").isNotNull &&
        col("ts_us") <= col("s0") + horizonUs, k)
      for (i <- k - 2 to 1 by -1) c = c.when(col(s"s$i").isNotNull, i + 1)
      c.when(col("s0").isNotNull, 1).otherwise(0)
    }
    df.groupBy(col("user_id")).agg(max(depth).as("funnel_depth"))
  }

  /** Gated 3-stage funnel view → click → purchase: depth histogram of
    * [[funnelDepths]] over the events table.
    */
  def evFunnel(s: SparkSession, d: String): DataFrame =
    funnelDepths(
      events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts_ns DIV 1000").as("ts_us")),
      Seq("view", "click", "purchase"))
      .groupBy(col("funnel_depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_depth"))

  val evFunnelSql: String =
    s"""WITH l1 AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
       |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
       |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
       |  FROM events),
       |l2 AS (
       |  SELECT *, MIN(CASE WHEN event_type = 'click' AND s1 IS NOT NULL
       |                      AND ts_us <= s1 + $FunnelHorizonUs THEN ts_us END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
       |  FROM l1),
       |per_user AS (
       |  SELECT user_id, MAX(CASE
       |    WHEN event_type = 'purchase' AND s2 IS NOT NULL
       |      AND ts_us <= s1 + $FunnelHorizonUs THEN 3
       |    WHEN s2 IS NOT NULL THEN 2
       |    WHEN s1 IS NOT NULL THEN 1 ELSE 0 END) AS funnel_depth
       |  FROM l2 GROUP BY user_id)
       |SELECT funnel_depth, COUNT(*) AS n_users
       |FROM per_user GROUP BY funnel_depth ORDER BY funnel_depth""".stripMargin

  private[graft] val UsPerDay = 86400L * 1000000

  /** Daily cohort retention: users grouped by their first-activity day,
    * counted on each later day they were active. The classic triangle
    * behind every retention curve.
    *
    * Plan: window min on `user_id` (first shuffle) → distinct
    * (cohort_day, offset, user) — its Exchange is the only other
    * shuffle, and AQE coalesces it: the distinct input is one row per
    * (user, active day), already a huge reduction from raw events done
    * map-side by the partial aggregate.
    */
  /** Frame-parametric retention core over `(user_id, day)` rows —
    * shared by [[evRetention]] and `graft.api.Events.retentionTriangle`.
    */
  def retentionTriangle(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    ev
      .withColumn("cohort_day", min(col("day")).over(byUser))
      .select(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"), col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  def evRetention(s: SparkSession, d: String): DataFrame =
    retentionTriangle(
      events(s, d).select(col("user_id"),
        expr(s"(ts_ns DIV 1000) DIV $UsPerDay").as("day")))
      .orderBy(col("cohort_day"), col("day_offset"))

  val evRetentionSql: String =
    s"""WITH days AS (
       |  SELECT user_id, epoch_us(ts) // $UsPerDay AS day,
       |    MIN(epoch_us(ts) // $UsPerDay)
       |      OVER (PARTITION BY user_id) AS cohort_day
       |  FROM events),
       |act AS (SELECT DISTINCT cohort_day, day - cohort_day AS day_offset,
       |               user_id FROM days)
       |SELECT cohort_day, day_offset, COUNT(*) AS n_users
       |FROM act GROUP BY cohort_day, day_offset
       |ORDER BY cohort_day, day_offset""".stripMargin

  // ── Rate anomalies ────────────────────────────────────────────────

  /** Observed trailing hours required before an hour can be judged. */
  val AnomalyMinPrev = 12L

  /** |z| threshold (integers only — the flag is decided in exact
    * integer arithmetic, see [[rateAnomalies]]).
    */
  val AnomalyZ = 3L

  /** Hourly event-rate anomalies per event type: each hour's count is
    * z-scored against the trailing 24 clock-hours (RANGE frame, so
    * absent hours are absent, not zero) and flagged when |z| ≥
    * [[AnomalyZ]] — the monitoring query every ingestion pipeline runs
    * over its event stream.
    *
    * Cross-engine determinism is designed in, not hoped for: the frame
    * carries only INTEGER moments (n, Σc, Σc²), the flag is decided
    * entirely in exact integer space — `(n·c − Σc)² ≥ z²·(n·Σc² −
    * (Σc)²)` is z² ≥ threshold² cleared of divisions — and the reported
    * z itself is one exact-integer subtraction divided by one `sqrt` of
    * an exact integer, both IEEE-correctly-rounded in any engine. A
    * naive `stddev_samp` would hash-diverge (Welford vs textbook
    * accumulation orders).
    *
    * Shape: partial-aggregated hourly rollup (the only corpus-sized
    * shuffle), then a window whose partitions are (event_type) over
    * PRE-AGGREGATED rows — thousands of rows per partition even at
    * 100 TB of raw events, so the low-cardinality partition key is safe
    * here (the rollup absorbed the volume).
    *
    * Zero-variance trail: any deviation from a constant baseline flags
    * (infinite z), a constant continuing does not; z is NULL there.
    */
  def rateAnomalies(ev: DataFrame, minPrev: Long = AnomalyMinPrev,
      zThresh: Long = AnomalyZ): DataFrame = {
    val hourly = ev
      .groupBy(col("event_type"), expr("(ts_s DIV 3600) * 3600").as("hour_s"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_s"))
      .rangeBetween(-24L * 3600, -3600L)
    val st = hourly
      .withColumn("n_prev", count(col("cnt")).over(w))
      .withColumn("sum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("sumsq_prev",
        coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)))
    val (z, flag) = zColumns(col("n_prev"), col("cnt"),
      col("sum_prev"), col("sumsq_prev"), minPrev, zThresh)
    st.select(col("event_type"), col("hour_s"), col("cnt"),
      col("n_prev"), col("sum_prev"), col("sumsq_prev"),
      z.as("z"), flag.as("is_anomaly"))
  }

  /** The exact-integer z machinery of [[rateAnomalies]], reusable
    * against ANY integer-moment baseline (n hours, Σc, Σc²) — also the
    * scoring half of the streaming `EventStreams.anomalyScoreStream`.
    * Returns (z, is_anomaly) columns.
    *
    * The moments widen to DECIMAL(38,0) before any product: with Long
    * math, `dev² = (n·c − Σc)²` wraps past hourly counts ≈ 10⁸ (dev ≈
    * 24c, dev² > 2⁶³) — exactly the 100 TB monitoring regime — and
    * Spark wraps SILENTLY (the flag can flip either way) while DuckDB
    * raises on BIGINT overflow, so the engines would also diverge in
    * failure mode. Decimal keeps every term exact out to 10³⁸ (hourly
    * counts ~10¹⁸); the oracle mirrors with HUGEINT (int128, same
    * exact domain). z itself is the decimal-exact dev / √varNum, each
    * cast correctly rounded to double in both engines.
    */
  def zColumns(nC: Column, c: Column, sC: Column, qC: Column,
      minN: Long, zThresh: Long): (Column, Column) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val dev = nC.cast(d38) * c.cast(d38) - sC.cast(d38)
    val varNum = nC.cast(d38) * qC.cast(d38) - sC.cast(d38) * sC.cast(d38)
    (when(nC >= minN && varNum > 0,
      dev.cast(DoubleType) / sqrt(varNum.cast(DoubleType))),
      (nC >= minN && dev * dev >= lit(zThresh * zThresh).cast(d38) * varNum &&
        !(varNum === 0 && dev === 0)))
  }

  def evAnomaly(s: SparkSession, d: String): DataFrame =
    rateAnomalies(events(s, d)
      .select(col("event_type"), expr("ts_ns DIV 1000000000").as("ts_s")))
      .orderBy(col("event_type"), col("hour_s"))

  val evAnomalySql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    epoch_us(ts) // 1000000 // 3600 * 3600 AS hour_s,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type, hour_s, cnt,
       |    CAST(COUNT(cnt) OVER w AS BIGINT) AS n_prev,
       |    CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS sum_prev,
       |    CAST(COALESCE(SUM(cnt * cnt) OVER w, 0) AS BIGINT) AS sumsq_prev
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_s
       |               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)),
       |zc AS (
       |  SELECT event_type, hour_s, cnt, n_prev, sum_prev, sumsq_prev,
       |    CAST(n_prev AS HUGEINT) * cnt - sum_prev AS dev,
       |    CAST(n_prev AS HUGEINT) * sumsq_prev
       |      - CAST(sum_prev AS HUGEINT) * sum_prev AS varnum
       |  FROM st)
       |SELECT event_type, hour_s, cnt, n_prev, sum_prev, sumsq_prev,
       |  CASE WHEN n_prev >= $AnomalyMinPrev AND varnum > 0
       |    THEN CAST(dev AS DOUBLE) / sqrt(CAST(varnum AS DOUBLE))
       |  END AS z,
       |  (n_prev >= $AnomalyMinPrev
       |   AND dev * dev >= ${AnomalyZ * AnomalyZ} * varnum
       |   AND NOT (varnum = 0 AND dev = 0)) AS is_anomaly
       |FROM zc
       |ORDER BY event_type, hour_s""".stripMargin

  // ---------------------------------------------------------------------
  // ev_attribution — last-touch conversion attribution.
  // ---------------------------------------------------------------------

  /** Attribution lookback: a purchase credits its channel only if the
    * touch happened within this many microseconds; staler touches (or
    * no touch at all) attribute to `direct`.
    */
  val AttributionHorizonUs: Long = 24L * 3600 * 1000000

  /** Touch event types eligible to receive conversion credit. */
  val TouchTypes: Seq[String] = Seq("click", "view")

  /** Last-touch conversion attribution: every `purchase` credits the
    * user's most recent preceding touch event (`click`/`view`) within
    * [[AttributionHorizonUs]]; purchases with no qualifying touch are
    * `direct`. The marketing-warehouse twin of the funnel — where
    * [[evFunnel]] asks "how deep did each user get", attribution asks
    * "which channel gets the revenue".
    *
    * Plan: the same single-shuffle shape as every operator in this
    * file — one hash exchange on `user_id`, then two running-window
    * `last(..., ignoreNulls)` carries (the preceding touch's type and
    * timestamp; frame ends at `-1 PRECEDING`, so a purchase can never
    * credit itself or a later touch), a map-side horizon check, and a
    * partial-aggregated rollup onto one row per channel. No self-join
    * of the events table against itself (the naive formulation joins
    * purchases × touches — a per-user product that explodes on
    * heavy-tail users).
    *
    * Revenue is summed in integer CENTS (`floor(value·100)` — both
    * engines compute the identical double product before the floor):
    * a double revenue sum would depend on partition accumulation
    * order, which no distributed engine guarantees.
    */
  def evAttribution(s: SparkSession, d: String): DataFrame =
    lastTouchAttribution(
      events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), col("value"), expr("ts_ns DIV 1000").as("ts_us")))
      .orderBy(col("channel"))

  /** Frame-parametric core of [[evAttribution]] over ANY
    * `(user_id, event_type, event_id, value, ts_us)` frame — the form
    * `graft.api.Events`-style callers reuse with their own touch/
    * conversion taxonomies.
    */
  def lastTouchAttribution(ev: DataFrame,
      touchTypes: Seq[String] = TouchTypes,
      convType: String = "purchase",
      horizonUs: Long = AttributionHorizonUs): DataFrame =
    attributedPurchases(ev, touchTypes, convType, horizonUs)
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_conversions"),
        countDistinct(col("user_id")).as("n_buyers"),
        sum(floor(col("value") * lit(100.0)).cast(org.apache.spark.sql.types.LongType))
          .as("revenue_cents"))

  /** Per-conversion attribution rows `(user_id, event_id, ts_us,
    * channel, value)` — the pre-rollup stage of
    * [[lastTouchAttribution]], and the batch reference the STREAMING
    * [[graft.streaming.EventStreams.attributionStream]] is certified
    * against.
    */
  def attributedPurchases(ev: DataFrame,
      touchTypes: Seq[String] = TouchTypes,
      convType: String = "purchase",
      horizonUs: Long = AttributionHorizonUs): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isInCollection(touchTypes)
    ev
      .withColumn("touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
      .withColumn("channel",
        when(col("touch_us").isNotNull &&
          col("ts_us") - col("touch_us") <= horizonUs,
          col("touch_type")).otherwise("direct"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("channel"), col("value"))
  }

  val evAttributionSql: String = {
    val touchList = TouchTypes.map(t => s"'$t'").mkString("(", ",", ")")
    s"""WITH ev AS (
       |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us
       |  FROM events),
       |touched AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type IN $touchList THEN event_type END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
       |    last_value(CASE WHEN event_type IN $touchList THEN ts_us END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_us
       |  FROM ev),
       |attributed AS (
       |  SELECT CASE WHEN touch_us IS NOT NULL
       |              AND ts_us - touch_us <= $AttributionHorizonUs
       |         THEN touch_type ELSE 'direct' END AS channel,
       |    user_id, value
       |  FROM touched WHERE event_type = 'purchase')
       |SELECT channel,
       |  CAST(COUNT(*) AS BIGINT) AS n_conversions,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
       |  CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
       |FROM attributed
       |GROUP BY channel
       |ORDER BY channel""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ev_markov — event-type transition matrix.
  // ---------------------------------------------------------------------

  /** First-order behavioral Markov model: the per-user event-type
    * transition matrix, estimated over every consecutive event pair.
    * The summary a session-modeling or bot-detection pass starts from
    * — an organic user's `view → click → purchase` mass looks nothing
    * like a scraper's `view → view → view` diagonal.
    *
    * Plan: one hash exchange on `user_id` for the `lag` window (the
    * same partitioning every operator in this file uses), then a
    * wordcount-shaped aggregation on the (from, to) pair — map-side
    * partials onto at most |event types|² rows, so the result is tiny
    * at ANY corpus scale and the single window shuffle is the whole
    * cost. `p` is one division of two exact counts per output row —
    * no float accumulation anywhere.
    */
  def evMarkov(s: SparkSession, d: String): DataFrame =
    transitionMatrix(
      events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts_ns DIV 1000").as("ts_us")))
      .orderBy(col("from_type"), col("to_type"))

  /** Frame-parametric core of [[evMarkov]] over ANY
    * `(user_id, event_type, event_id, ts_us)` frame.
    */
  def transitionMatrix(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val pairs = ev
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    // n_from via a window OVER THE COUNTS (≤ |event types|² rows), not a
    // join of counts against a re-aggregation of itself — the self-join
    // form re-runs the corpus scan + lag window for the second branch
    val tw = Window.partitionBy(col("from_type"))
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(tw))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_from").cast(org.apache.spark.sql.types.DoubleType)).as("p"))
  }

  val evMarkovSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS from_type,
      |    event_type AS to_type
      |  FROM events),
      |counts AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pairs WHERE from_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
      |  CAST(n AS DOUBLE)
      |    / CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE) AS p
      |FROM counts
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev_path — most-traveled user journeys (event-type trigrams).
  // ---------------------------------------------------------------------

  val PathTopK = 20

  /** Journey mining: the [[PathTopK]] most-traveled length-3 event-type
    * paths across all users — the next order up from [[evMarkov]]'s
    * pairwise transitions, and the summary a UX/fraud review reads
    * first ("view>click>purchase" vs "error>error>error"). Two `lag`s
    * on the same user window produce each consecutive triple; paths
    * never cross a user boundary (the lags are user-partitioned).
    *
    * Same scale shape as the transition matrix: ONE hash exchange on
    * `user_id`, then a wordcount aggregation onto ≤ |event types|³
    * rows, and a rank over that tiny relation. Ties break by path
    * string so the top-k is deterministic.
    */
  def evPath(s: SparkSession, d: String): DataFrame =
    topPaths(
      events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts_ns DIV 1000").as("ts_us")))
      .orderBy(col("rank"))

  /** Frame-parametric core of [[evPath]] over ANY
    * `(user_id, event_type, event_id, ts_us)` frame.
    */
  def topPaths(ev: DataFrame, k: Int = PathTopK): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    // BOUNDED GLOBAL WINDOW: ranks the per-path COUNTS (cardinality <=
    // distinct event-type triples, a model-sized relation after the
    // groupBy), never the event stream itself
    val rw = Window.orderBy(col("n").desc, col("path"))
    ev
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      // the rank window is global but runs over the ≤|types|³ count
      // relation, never the events — same posture as cp_waterfill
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("rank"), col("path"), col("n"))
  }

  val evPathSql: String =
    s"""WITH tri AS (
       |  SELECT lag(event_type, 2) OVER w AS p2,
       |    lag(event_type, 1) OVER w AS p1,
       |    event_type AS p0
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |counts AS (
       |  SELECT p2 || '>' || p1 || '>' || p0 AS path,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM tri WHERE p2 IS NOT NULL
       |  GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INTEGER) AS rank,
       |  path, n
       |FROM counts
       |QUALIFY rank <= $PathTopK
       |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // ev_scd2 — changelog → slowly-changing-dimension type-2 intervals.
  // ---------------------------------------------------------------------

  /** SCD Type-2 compaction of the event changelog: per user, collapse
    * CONSECUTIVE same-type events into one validity interval and emit
    * `[valid_from_us, valid_to_us)` rows — the warehouse "dimension
    * history" table, and the type-2 complement of
    * [[graft.streaming.EventStreams.stLatestByKey]]'s type-1 snapshot.
    * Only a CHANGE of `event_type` opens a new interval (real SCD2
    * semantics — re-asserting the same value extends the current
    * interval instead of fragmenting history); the open interval has
    * `valid_to_us` null and `is_current` true.
    *
    * Shape: ONE hash exchange on `user_id` shared by all three stages —
    * the change-flag window (`lag` + running sum = interval id, the
    * gaps-and-islands pass [[Dedup2.ddSpans]] also uses), the per-
    * interval aggregate (grouping on `(user_id, run)` reuses the
    * `user_id` partitioning — `ClusteredDistribution` is satisfied by
    * any subset hash, so no second exchange), and the interval-chaining
    * `lead` that closes each interval with the next one's start. State
    * per user is bounded by that user's event count; nothing cross-user
    * ever forms.
    */
  def evScd2(s: SparkSession, d: String): DataFrame =
    scd2Intervals(
      events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts_ns DIV 1000").as("ts_us")))
      .orderBy(col("user_id"), col("valid_from_us"))

  /** Frame-parametric core of [[evScd2]] over ANY `(user_id,
    * event_type, event_id, ts_us)` changelog frame — the tracked
    * dimension is the `event_type` column; callers project their own
    * attribute into it.
    */
  def scd2Intervals(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("run"))
    val prev = lag(col("event_type"), 1).over(w)
    ev
      .withColumn("chg",
        when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run"))
      // event_type is constant within a run; min is the order-free pick
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byRun))
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** DuckDB mirror: identical lag → change flag → running-sum interval
    * id → per-interval aggregate → `LEAD` chain; all arithmetic is
    * integer (epoch micros, counts), so the engines agree bit-for-bit.
    */
  val evScd2Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |    lag(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |r AS (
      |  SELECT user_id, event_type, ts_us,
      |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
      |                  THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
      |  FROM e),
      |g AS (
      |  SELECT user_id, run, MIN(event_type) AS event_type,
      |    CAST(MIN(ts_us) AS BIGINT) AS valid_from_us,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM r GROUP BY user_id, run)
      |SELECT user_id, event_type, valid_from_us,
      |  LEAD(valid_from_us) OVER wr AS valid_to_us,
      |  n_events,
      |  LEAD(valid_from_us) OVER wr IS NULL AS is_current
      |FROM g
      |WINDOW wr AS (PARTITION BY user_id ORDER BY run)
      |ORDER BY user_id, valid_from_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_lifecycle — daily growth accounting (new/retained/resurrected/churned).
  // ---------------------------------------------------------------------

  /** Daily growth accounting: every active (user, day) is classified as
    * `new` (first day ever), `retained` (also active yesterday) or
    * `resurrected` (active before, but not yesterday), and every user
    * active on d−1 but not on d counts as `churned` on d. The standard
    * growth ledger — `active(d) = active(d−1) + new(d) + resurrected(d)
    * − churned(d)` holds row-for-row, and the spec pins that identity.
    *
    * Shape: the raw event stream collapses to one row per (user, active
    * day) via a partial-aggregated groupBy — the ONLY corpus-sized
    * shuffle, and the map side absorbs the per-day event volume. The
    * `lag`/`lead` windows then run per `user_id` over the deduped
    * relation (a second, far smaller exchange), and ONE wordcount-
    * shaped rollup onto one row per day closes the ledger. Nothing
    * cross-user forms; state per user is its count of DISTINCT active
    * days.
    *
    * Churn attribution is purely local: a row whose `lead(day)` is null
    * or > day+1 emits one churn at day+1 — so the ledger's last row is
    * the day after the corpus ends, carrying only the final churn-out
    * (kept deliberately: dropping it would break the identity above).
    */
  def evLifecycle(s: SparkSession, d: String): DataFrame =
    growthAccounting(
      events(s, d).select(col("user_id"),
        expr(s"(ts_ns DIV 1000) DIV $UsPerDay").as("day")))
      .orderBy(col("day"))

  /** Frame-parametric core of [[evLifecycle]] over ANY
    * `(user_id, day)` activity frame (duplicates welcome — the first
    * stage dedups).
    *
    * Every classified row EXPLODES into at most two (day, kind) ledger
    * entries — its own status at `day`, plus a churn marker at `day+1`
    * when the next active day isn't adjacent — so one wordcount-shaped
    * rollup produces the whole ledger. The naive form (a statuses
    * branch FULL OUTER JOINed with a churn branch) runs the corpus
    * subtree twice in the static plan and joins at the end; the explode
    * costs at most 2× of the already-deduped relation, map-side.
    */
  def growthAccounting(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val act = ev.groupBy(col("user_id"), col("day")).agg(count(lit(1))
      .as("n_raw")).drop("n_raw")
      .withColumn("prev_day", lag(col("day"), 1).over(byUser))
      .withColumn("next_day", lead(col("day"), 1).over(byUser))
    val status = when(col("prev_day").isNull, "new")
      .when(col("prev_day") === col("day") - 1, "retained")
      .otherwise("resurrected")
    val churnKind = when(
      col("next_day").isNull || col("next_day") > col("day") + 1,
      "churned")
    act
      .select(explode(array(
        struct(col("day"), status.as("kind")),
        struct((col("day") + 1).as("day"), churnKind.as("kind"))))
        .as("e"))
      .filter(col("e.kind").isNotNull)
      .groupBy(col("e.day").as("day"))
      .agg(
        sum(when(col("e.kind") =!= "churned", 1L).otherwise(0L))
          .as("n_active"),
        sum(when(col("e.kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("e.kind") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("e.kind") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("e.kind") === "churned", 1L).otherwise(0L))
          .as("n_churned"))
  }

  /** DuckDB mirror: identical dedup → lag/lead classification → the
    * same two-entry ledger explosion (as a UNION ALL) → one rollup;
    * every column is an exact integer.
    */
  val evLifecycleSql: String =
    s"""WITH act AS (
       |  SELECT user_id, epoch_us(ts) // $UsPerDay AS day
       |  FROM events GROUP BY 1, 2),
       |seq AS (
       |  SELECT user_id, day,
       |    lag(day) OVER w AS prev_day,
       |    lead(day) OVER w AS next_day
       |  FROM act
       |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
       |kinds AS (
       |  SELECT day,
       |    CASE WHEN prev_day IS NULL THEN 'new'
       |         WHEN prev_day = day - 1 THEN 'retained'
       |         ELSE 'resurrected' END AS kind
       |  FROM seq
       |  UNION ALL
       |  SELECT day + 1 AS day, 'churned' AS kind
       |  FROM seq
       |  WHERE next_day IS NULL OR next_day > day + 1)
       |SELECT day,
       |  CAST(SUM(CASE WHEN kind <> 'churned' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_active,
       |  CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_new,
       |  CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_retained,
       |  CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_resurrected,
       |  CAST(SUM(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_churned
       |FROM kinds
       |GROUP BY day
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // ev_stickiness — sliding 7-day distinct actives (DAU / WAU).
  // ---------------------------------------------------------------------

  /** Trailing window width for the rolling-distinct count, in days. */
  val StickinessWindowDays = 7

  /** Per-day DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio —
    * the one event-warehouse staple a plain SQL window CANNOT express
    * (COUNT(DISTINCT) over a moving frame isn't a window function in
    * Spark or DuckDB).
    *
    * The rewrite that makes it distributable: each deduped (user, day)
    * row CONTRIBUTES to the windows ending on days d..d+6, so exploding
    * the deduped relation by a constant [[StickinessWindowDays]]-element
    * `sequence` and counting distinct users per target day IS the
    * sliding distinct — a bounded map-side expansion of the (user, day)
    * relation (already orders of magnitude smaller than raw events),
    * never a per-day self-join of the corpus and never a global window.
    * Days beyond the corpus that only the explosion reaches are dropped
    * by an inner join back onto the DAU relation (per-day rollups, tiny
    * at any scale).
    *
    * The countDistinct plans as Spark's two-phase partial aggregate:
    * dedup on (day, user) map-side, then a count per day — the same
    * posture DuckDB's COUNT(DISTINCT) lowers to, so the engines agree
    * exactly. Stickiness is ONE division of two exact counts.
    */
  def evStickiness(s: SparkSession, d: String): DataFrame =
    slidingActives(
      events(s, d).select(col("user_id"),
        expr(s"(ts_ns DIV 1000) DIV $UsPerDay").as("day")))
      .orderBy(col("day"))

  /** Frame-parametric core of [[evStickiness]] over ANY
    * `(user_id, day)` activity frame (duplicates welcome).
    *
    * DAU rides the same expansion: the exploded row whose target day
    * equals its source day IS the user's DAU contribution, so one
    * rollup yields both counts — no second corpus branch, no dau⋈wau
    * join. Expansion-only days past each user's last activity (dau 0)
    * are dropped at the end; they are window artifacts, not days.
    */
  def slidingActives(ev: DataFrame,
      windowDays: Int = StickinessWindowDays): DataFrame = {
    require(windowDays >= 1, "window must span at least one day")
    ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_raw")).drop("n_raw")
      .select(col("user_id"), col("day").as("src_day"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("day"))
      .groupBy(col("day"))
      .agg(
        count(when(col("day") === col("src_day"), lit(1))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast(org.apache.spark.sql.types.DoubleType) /
          col("wau").cast(org.apache.spark.sql.types.DoubleType))
          .as("stickiness"))
  }

  /** DuckDB mirror: the same explode-by-window rewrite via
    * `unnest(generate_series(...))`, DAU riding the expansion; counts
    * are exact integers, stickiness is one correctly-rounded double
    * division.
    */
  val evStickinessSql: String =
    s"""WITH act AS (
       |  SELECT user_id, epoch_us(ts) // $UsPerDay AS day
       |  FROM events GROUP BY 1, 2),
       |expanded AS (
       |  SELECT user_id, day AS src_day,
       |    unnest(generate_series(day, day + ${StickinessWindowDays - 1})) AS day
       |  FROM act),
       |agg AS (
       |  SELECT day,
       |    CAST(COUNT(CASE WHEN day = src_day THEN 1 END) AS BIGINT) AS dau,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
       |  FROM expanded GROUP BY day)
       |SELECT day, dau, wau,
       |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
       |FROM agg
       |WHERE dau > 0
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // ev_stickiness_hll — the sketch-merging WAU scale path.
  // ---------------------------------------------------------------------

  /** Relative error budget the HLL estimate must land within. Sized
    * from the sketch's OWN statistics, not a round number: the
    * lgConfigK=12 default's relative standard deviation is
    * 1.04/√4096 ≈ 1.63%, so this 10% bound is ~6σ — the certification
    * can only fail on a genuinely broken sketch path, never on an
    * unlucky-but-healthy estimate (a 5% bound was ~3σ: statistically
    * flaky on every new or larger corpus, ~0.3% of windows failing by
    * chance). The absolute slack of 2 covers tiny windows where one
    * register collision exceeds any percentage. A spec separately
    * asserts the TIGHTER 3σ bound at the test corpora, so estimate
    * quality is still pinned where flake probability is controlled by
    * a fixed dataset.
    */
  val StickinessHllRelErrPct = 10L

  /** [[evStickiness]]'s sketch arm: trailing-7-day actives from per-day
    * HLL sketches (`hll_sketch_agg`) UNIONED across the window instead
    * of re-deduplicating user ids — at 100 TB this is the shape that
    * wins, because the window expansion then shuffles seven fixed-size
    * (~KB) sketches per day instead of seven copies of every (user,
    * day) row, and a day's sketch is built once however many windows it
    * feeds. Certified the `q27_approx` way: sketch REGISTERS are
    * engine-specific, so the output carries the exact DAU/WAU (same
    * arithmetic as `ev_stickiness`) plus an `est_ok` boolean asserting
    * the estimate landed within [[StickinessHllRelErrPct]] — the oracle
    * pins the exact columns and requires the boolean TRUE, keeping the
    * raw estimate out of the cross-engine compare.
    */
  def evStickinessHll(s: SparkSession, d: String): DataFrame =
    slidingActivesHll(
      events(s, d).select(col("user_id"),
        expr(s"(ts_ns DIV 1000) DIV $UsPerDay").as("day")))
      .orderBy(col("day"))

  /** Frame-parametric core of [[evStickinessHll]]: the exact
    * [[slidingActives]] ledger joined with the sketch-path estimate
    * (per-day sketches, window-merged), emitting the tolerance verdict
    * per day.
    */
  def slidingActivesHll(ev: DataFrame,
      windowDays: Int = StickinessWindowDays): DataFrame = {
    val act = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_raw")).drop("n_raw")
    val est = act
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(col("sk"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
    slidingActives(ev, windowDays)
      .join(est, Seq("day"), "inner")
      .select(col("day"), col("dau"), col("wau"), col("stickiness"),
        (abs(col("wau_est") - col("wau")) * 100 <=
          lit(StickinessHllRelErrPct) * col("wau") + 200).as("est_ok"))
  }

  /** DuckDB mirror: the exact ledger with the verdict pinned TRUE —
    * a sketch drifting past its bound flips the boolean in the Spark
    * output and fails the hash gate.
    */
  val evStickinessHllSql: String =
    s"""WITH act AS (
       |  SELECT user_id, epoch_us(ts) // $UsPerDay AS day
       |  FROM events GROUP BY 1, 2),
       |expanded AS (
       |  SELECT user_id, day AS src_day,
       |    unnest(generate_series(day, day + ${StickinessWindowDays - 1})) AS day
       |  FROM act),
       |agg AS (
       |  SELECT day,
       |    CAST(COUNT(CASE WHEN day = src_day THEN 1 END) AS BIGINT) AS dau,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
       |  FROM expanded GROUP BY day)
       |SELECT day, dau, wau,
       |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness,
       |  TRUE AS est_ok
       |FROM agg
       |WHERE dau > 0
       |ORDER BY day""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("ev_path",           evPath,          evPathSql),
    Gated("ev_funnel",         evFunnel,        evFunnelSql),
    Gated("ev_retention",      evRetention,     evRetentionSql),
    Gated("ev_anomaly",        evAnomaly,       evAnomalySql),
    Gated("ev_attribution",    evAttribution,   evAttributionSql),
    Gated("ev_markov",         evMarkov,        evMarkovSql),
    Gated("ev_scd2",           evScd2,          evScd2Sql),
    Gated("ev_lifecycle",      evLifecycle,     evLifecycleSql),
    Gated("ev_stickiness",     evStickiness,    evStickinessSql),
    Gated("ev_stickiness_hll", evStickinessHll, evStickinessHllSql),
  )
}
