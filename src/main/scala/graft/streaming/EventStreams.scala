package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Gated
import graft.functions._
import graft.sources.Tables

/** Streaming surface over the `events` table.
  *
  * The reference has no data-plane streaming (SURVEY.md §2e — its only
  * periodic machinery is control-plane heartbeats, `dfs/node/node.go:66-86`);
  * this module is the Structured-Streaming extension: event-time windows
  * with watermarks, and stateful sessionization via
  * `flatMapGroupsWithState`. Every aggregation is expressed so the SAME
  * logic runs in batch mode (the driver-gated queries below, with DuckDB
  * oracles) and in streaming mode (EventStreamsSpec drives
  * readStream → watermark → window → memory sink and checks it equals
  * the batch answer).
  *
  * `ts` is parquet TIMESTAMP(NANOS) → read as Long nanos (`ts_ns`, see
  * [[Tables.events]]); window math uses integer DIV, exact at any scale.
  */
object EventStreams {

  val WindowSec = 300L         // 5-minute tumbling windows
  val SlideSec = 300L          // slide of the sliding window
  val SlidingWindowSec = 600L  // width; buckets-per-event derives from this
  val SessionGapNs: Long = 30L * 60 * 1000000000L // 30-minute session gap

  private val NsPerSec = 1000000000L

  // ---------------------------------------------------------------------
  // Batch-equivalent queries (driver-gated with DuckDB oracles).
  // ---------------------------------------------------------------------

  /** Tumbling 5-minute window aggregation: the batch form of the
    * canonical streaming query. Window start as epoch seconds (BIGINT) —
    * timestamp-type round-tripping between engines is tz-fraught; epoch
    * integers are not.
    */
  def stWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        (expr(s"ts_ns DIV ${WindowSec * NsPerSec}") * WindowSec)
          .as("win_start_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("win_start_s"), col("event_type"))

  val stWindowAggSql: String =
    s"""SELECT (epoch_ns(ts) // ${WindowSec * NsPerSec}) * $WindowSec AS win_start_s,
       |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY win_start_s, event_type""".stripMargin

  /** Sliding 10-minute window with 5-minute slide: each event lands in
    * two windows (explode of the two candidate starts — exactly what
    * Spark's `window(slideDuration)` generator lowers to).
    */
  def stSlidingWindow(s: SparkSession, d: String): DataFrame = {
    val bucket = expr(s"ts_ns DIV ${SlideSec * NsPerSec}") * SlideSec
    val nBuckets = (SlidingWindowSec / SlideSec).toInt
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        explode(array((0 until nBuckets).map(i =>
          bucket - i * SlideSec): _*)).as("win_start_s"))
      .groupBy(col("win_start_s"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("win_start_s"))
  }

  val stSlidingWindowSql: String =
    s"""SELECT win_start_s, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM (SELECT value,
       |        unnest([(epoch_ns(ts) // ${SlideSec * NsPerSec}) * $SlideSec,
       |                (epoch_ns(ts) // ${SlideSec * NsPerSec}) * $SlideSec - $SlideSec]) AS win_start_s
       |      FROM events) t
       |GROUP BY win_start_s
       |ORDER BY win_start_s""".stripMargin

  /** Declarative sessionization (30-min inactivity gap) via lag +
    * running sum — the batch oracle for the stateful streaming
    * sessionizer below. One shuffle on user_id; windows run inside each
    * user partition.
    */
  /** DuckDB stores timestamps at microsecond precision (parquet nanos
    * are truncated on read), so the cross-engine form works in micros.
    */
  def stSessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapNs / 1000).cast(IntegerType))
      .withColumn("session_idx", sum(col("is_new")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .withColumn("duration_s", expr("(end_us - start_us) DIV 1000000"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val stSessionizeSql: String =
    s"""SELECT user_id, session_idx, COUNT(*) AS n_events,
       |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       |  (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_s
       |FROM (
       |  SELECT user_id, ts_us,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_idx
       |  FROM (
       |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |      CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
       |             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > ${SessionGapNs / 1000}
       |           THEN 1 ELSE 0 END AS is_new
       |    FROM events) a) b
       |GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // ---------------------------------------------------------------------
  // True streaming forms (driven by EventStreamsSpec).
  // ---------------------------------------------------------------------

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos via legacy flag
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events parquet directory, normalized to
    * epoch-nanos `ts_ns` exactly like the batch loader
    * ([[graft.sources.Tables.events]]). File streams require a fixed
    * schema up front, so the `ts` type is sniffed from the files already
    * present (a footer-only batch read — the stream then watches the
    * path for more files of the same schema):
    *   - `LongType` — TIMESTAMP(NANOS) parquet read under the legacy
    *     nanos-as-long flag, or a raw nanos column: rename only.
    *   - `TIMESTAMP` / `TIMESTAMP_NTZ` — what a standard engine writes
    *     (micros precision): convert via `unix_micros · 1000`. NTZ is
    *     reinterpreted in the session zone, which GraftSession pins to
    *     UTC.
    * Without the branch, a µs-timestamp corpus would be read as nanos —
    * every event-time 1000× too small and every watermark closing
    * instantly.
    */
  def readEventStream(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileFields = s.read.parquet(path).schema
    if (fileFields.fieldNames.contains("ts_ns")) {
      // already normalized (e.g. a re-staged graft output): read as-is
      val schema = StructType(eventSchema.map(f =>
        if (f.name == "ts") f.copy(name = "ts_ns") else f))
      return s.readStream.schema(schema).parquet(path)
    }
    fileFields("ts").dataType match {
      case LongType =>
        s.readStream.schema(eventSchema).parquet(path)
          .withColumnRenamed("ts", "ts_ns")
      case tsType =>
        val fileSchema = StructType(eventSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = tsType) else f))
        s.readStream.schema(fileSchema).parquet(path)
          .withColumn("ts_ns", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
          .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
    }
  }

  /** Watermarked tumbling-window counts — the streaming twin of
    * [[stWindowAgg]]. Works on a streaming OR batch DataFrame with
    * `ts_ns` (watermark is a no-op in batch).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), s"$WindowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        (unix_timestamp(col("window.start"))).as("win_start_s"),
        col("event_type"), col("n"))

  /** Stream-stream self-join: purchases joined to same-user views within
    * the preceding hour. Watermarks on BOTH sides bound the join state:
    * a view older than (watermark − 1 h) can never match a future
    * purchase and is evicted. Works identically on a batch frame
    * (watermarks no-op), which is how the spec oracles it.
    */
  def purchaseViewJoin(events: DataFrame): DataFrame =
    purchaseViewInterval(events)
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"))

  /** LEFT OUTER stream-stream interval join: like [[purchaseViewJoin]]
    * but a purchase with NO same-user view in its 1-hour lookback still
    * emits, with a null `v_id` — the "every purchase must appear in the
    * funnel report" form. In streaming, the null row can only emit once
    * the watermark proves no matching view can still arrive (state
    * eviction time), so unmatched purchases surface with watermark
    * latency; matched rows emit as in the inner join. Same state bounds:
    * both sides' watermarks plus the interval condition.
    */
  def purchaseViewJoinOuter(events: DataFrame): DataFrame =
    purchaseViewInterval(events, "left_outer")
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"))

  /** The watermarked purchase/view split + 1-hour interval join itself
    * — ONE definition of the lookback, watermark delays, and join
    * predicate, shared by [[purchaseViewJoin]] and
    * [[latestViewBeforePurchase]]. Output: `(p_id, p_user, p_ts, v_id,
    * v_ts)`.
    */
  private def purchaseViewInterval(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val withTs = events
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
    val purchases = withTs.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = withTs.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      joinType)
      .select(col("p_id"), col("p_user"), col("p_ts"), col("v_id"),
        col("v_ts"))
  }

  /** Streaming exact dedup: watermark-bounded dedup — the streaming twin
    * of `dd_exact`. `dropDuplicatesWithinWatermark` prunes each key's
    * state once the watermark passes its event time (plain
    * `dropDuplicates` on a non-event-time key would grow state forever),
    * so memory is bounded by the dedup horizon, not the stream length.
    */
  def streamingDedup(events: DataFrame): DataFrame = {
    val withTs = events
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("ts", "1 hour")
    (if (withTs.isStreaming) withTs.dropDuplicatesWithinWatermark("event_id")
     else withTs.dropDuplicates("event_id"))
      .drop("ts")
  }

  final case class Event(event_id: Long, ts_ns: Long, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class SessionOut(user_id: Long, start_ns: Long, end_ns: Long,
      n_events: Long)
  final case class SessState(start: Long, end: Long, n: Long)

  /** Stateful sessionizer via `flatMapGroupsWithState` — BATCH-mode
    * semantics: each group arrives once, the events are sorted, closed
    * sessions plus the final open one are emitted, and state is
    * discarded, making it directly comparable to [[stSessionize]].
    * A streaming deployment additionally needs `EventTimeTimeout` wiring
    * (keep the open session in state, emit on timeout) — NOT implemented
    * here; the streaming-verified operators are the windowed aggregation,
    * stream-stream join and dedup above.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(st) if e.ts_ns - st.end <= SessionGapNs =>
                cur = Some(SessState(st.start, e.ts_ns, st.n + 1))
              case Some(st) =>
                out += SessionOut(userId, st.start, st.end, st.n)
                cur = Some(SessState(e.ts_ns, e.ts_ns, 1))
              case None =>
                cur = Some(SessState(e.ts_ns, e.ts_ns, 1))
            }
          }
          cur match {
            case Some(st) =>
              // batch mode: group is complete, emit the open session too
              out += SessionOut(userId, st.start, st.end, st.n)
              state.remove()
            case None => ()
          }
          out.iterator
      }
  }

  /** STREAMING sessionizer: the event-time-timeout counterpart of the
    * batch [[sessionize]]. State holds ALL open sessions per user (a
    * small list — sessions still inside the watermark horizon), so
    * in-watermark out-of-order events merge correctly: an event within
    * the gap of any open session (on either side) widens it, an event
    * bridging two sessions fuses them, and a disjoint event opens a new
    * session. Each session is emitted only once the event-time watermark
    * passes `session end + gap` — i.e. when no in-watermark event can
    * still extend it — matching batch [[sessionize]] semantics for all
    * events the watermark admits. Requires a watermarked `ts` column
    * upstream. State size is bounded by the watermark delay / gap ratio,
    * not by stream length.
    */
  final case class EventWithTs(event_id: Long, ts_ns: Long, user_id: Long,
      event_type: String, value: Double, props: String,
      ts: java.sql.Timestamp)

  final case class OpenSessions(sessions: List[SessState])

  def sessionizeStream(events: Dataset[EventWithTs]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventWithTs],
            state: GroupState[OpenSessions]) =>
          // a session is final once the watermark passes end+gap: its
          // timeout tick (ms) is the first watermark value that can no
          // longer extend it. Kept as a lambda `val` local to the state
          // function: a `def` on the EventStreams$ module (or lifted to
          // it) drags the non-serializable module into the closure →
          // Task not serializable at runtime.
          val timeoutMs: SessState => Long =
            st => (st.end + SessionGapNs) / 1000000L + 1
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
          if (!state.hasTimedOut) {
            val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
            sorted.foreach { e =>
              // sessions the event can extend (within gap of either
              // bound); one event may bridge several → fuse them all
              val (near, far) = sessions.partition(st =>
                e.ts_ns >= st.start - SessionGapNs &&
                  e.ts_ns <= st.end + SessionGapNs)
              val fused = near.foldLeft(SessState(e.ts_ns, e.ts_ns, 1)) {
                (acc, st) =>
                  SessState(math.min(acc.start, st.start),
                    math.max(acc.end, st.end), acc.n + st.n)
              }
              sessions = fused :: far
            }
          }
          // close every session the watermark has passed — both on a
          // timeout tick and on a data batch (timeouts don't fire in a
          // trigger where the group also received data)
          val wmMs = state.getCurrentWatermarkMs()
          val (closed, open) = sessions.partition(st => timeoutMs(st) <= wmMs)
          closed.sortBy(_.start).foreach(st =>
            out += SessionOut(userId, st.start, st.end, st.n))
          if (open.nonEmpty) {
            state.update(OpenSessions(open))
            // fire when the earliest-ending open session becomes final
            state.setTimeoutTimestamp(open.map(timeoutMs).min)
          } else {
            state.remove()
          }
          out.iterator
      }
  }

  // ---------------------------------------------------------------------
  // Streaming conversion funnel — the continuously-maintained twin of
  // graft.operators.EventAnalytics.funnelDepths.
  // ---------------------------------------------------------------------

  final case class FunnelEvt(ts_ns: Long, event_id: Long, stage: Int)
  final case class FunnelState(anchorNs: Long, anchorId: Long,
      evts: List[FunnelEvt])
  final case class FunnelOut(user_id: Long, funnel_depth: Int,
      anchor_ns: Long)

  /** Streaming k-stage funnel with event-time timeout. Per-user state
    * is ONE anchor (the earliest stage-0 event seen — only the min can
    * matter) plus the stage≥1 events that could still qualify; a
    * user's depth emits exactly when the watermark passes
    * `anchor + horizon`, i.e. when no in-watermark event can change
    * the answer, so results match the batch
    * [[graft.operators.EventAnalytics.funnelDepths]] for every user
    * whose events the watermark admits.
    *
    * State is watermark-bounded, not stream-bounded: events above
    * `anchor + horizon` are dropped on arrival (the anchor only moves
    * EARLIER, so the qualifying window only moves left), and events
    * below the anchor — kept because a still-earlier anchor could
    * newly qualify them — are dropped once the watermark passes them
    * (no view can precede them anymore).
    *
    * PRE-ANCHOR ERAS ARE SILENT: a user with stage events but no
    * anchor clears state WITHOUT emitting when the watermark passes
    * its last event + horizon. Emitting depth 0 there (the round-5
    * behavior) double-counted users in append mode — a later burst
    * opens an anchored era and emits a second row, while batch (which
    * sees all eras at once) reports only the anchored depth, since
    * pre-anchor events never qualify. An anchored era always emits
    * depth ≥ 1, so append consumers get EXACTLY ONE row per anchored
    * era; users whose events never anchor emit nothing (their depth-0
    * is only decidable when the stream ends — ask the batch
    * [[graft.operators.EventAnalytics.funnelDepths]] for them). A user
    * CAN still emit once per anchored era if a second anchor arrives
    * more than a horizon after the first era closed — bounded state
    * cannot remember all past anchors; batch reports the earliest.
    */
  def funnelStream(events: Dataset[EventWithTs], stages: Seq[String],
      horizonNs: Long): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(stages.length >= 2, "a funnel needs at least two stages")
    val stageOf = stages.zipWithIndex.toMap
    val k = stages.length
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventWithTs],
            state: GroupState[FunnelState]) =>
          val none = Long.MaxValue
          val hadState = state.exists
          var st = state.getOption.getOrElse(FunnelState(none, none, Nil))
          if (!state.hasTimedOut) {
            it.foreach { e =>
              stageOf.get(e.event_type).foreach { si =>
                if (si == 0) {
                  if (e.ts_ns < st.anchorNs ||
                      (e.ts_ns == st.anchorNs && e.event_id < st.anchorId))
                    st = st.copy(anchorNs = e.ts_ns, anchorId = e.event_id)
                } else {
                  st = st.copy(evts = FunnelEvt(e.ts_ns, e.event_id, si)
                    :: st.evts)
                }
              }
            }
          }
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          // prune: above the window — never qualifies (anchors only
          // move earlier); below the anchor AND behind the watermark —
          // no earlier anchor can arrive to qualify it
          val kept = st.evts.filter(e =>
            (st.anchorNs == none || e.ts_ns <= st.anchorNs + horizonNs) &&
              !(e.ts_ns < st.anchorNs && e.ts_ns < wmNs))
          st = st.copy(evts = kept)
          // the answer is final once the watermark passes the LAST
          // event time that could still change it
          val finalAtNs =
            if (st.anchorNs != none) st.anchorNs + horizonNs
            else if (kept.nonEmpty) kept.map(_.ts_ns).max + horizonNs
            else Long.MinValue
          if (st.anchorNs == none && kept.isEmpty && !hadState) {
            // brand-new group with only non-stage events: nothing to
            // track (state.remove() on never-created state is a no-op)
            state.remove()
            Iterator.empty
          } else if (wmNs > finalAtNs) {
            state.remove()
            if (st.anchorNs == none) {
              // pre-anchor era expired without ever anchoring: clear
              // silently — no depth-0 row (see scaladoc)
              Iterator.empty
            } else {
              // flush: sequential replay of the chained-running-min rule
              val firstQ = Array.fill(k)(none)
              firstQ(0) = st.anchorNs
              st.evts
                .filter(e => e.ts_ns > st.anchorNs ||
                  (e.ts_ns == st.anchorNs && e.event_id > st.anchorId))
                .sortBy(e => (e.ts_ns, e.event_id))
                .foreach { e =>
                  if (firstQ(e.stage - 1) != none && firstQ(e.stage) == none)
                    firstQ(e.stage) = e.ts_ns
                }
              val depth = firstQ.lastIndexWhere(_ != none) + 1
              Iterator.single(FunnelOut(userId, depth, st.anchorNs))
            }
          } else {
            state.update(st)
            state.setTimeoutTimestamp(finalAtNs / 1000000L + 1)
            Iterator.empty
          }
      }
  }

  // ---------------------------------------------------------------------
  // Streaming last-touch attribution — the continuously-maintained twin
  // of graft.operators.EventAnalytics.attributedPurchases.
  // ---------------------------------------------------------------------

  final case class AttrTouch(tsNs: Long, eventId: Long, tpe: String)
  final case class AttrPending(tsNs: Long, eventId: Long, value: Double)
  final case class AttrState(touches: List[AttrTouch],
      pending: List[AttrPending])
  final case class AttrOut(user_id: Long, event_id: Long, ts_ns: Long,
      channel: String, value: Double)

  /** Streaming last-touch attribution with event-time finality: each
    * conversion emits EXACTLY once, when the watermark passes its
    * event time — at that point no in-watermark touch with an earlier
    * timestamp can still arrive, so the attribution equals the batch
    * [[graft.operators.EventAnalytics.attributedPurchases]] row for
    * every conversion the watermark admits. Ordering matches the batch
    * window frame: touches strictly before the conversion in
    * (µs timestamp, event_id) order, latest wins, horizon checked in
    * µs (comparisons quantize `ts_ns DIV 1000` so both forms agree on
    * ties even for sub-µs sources).
    *
    * State is watermark-bounded on both sides:
    *   - conversions leave state the moment they finalize;
    *   - touches above the watermark are all kept (an earlier pending
    *     conversion may still need any of them), but touches at or
    *     below it collapse to the single LATEST one — every pending or
    *     future conversion has event time above the watermark, so the
    *     latest behind-watermark touch dominates the rest — and even
    *     that one drops once the watermark passes its horizon (any
    *     later conversion attributes `direct` regardless).
    * An event-time timeout at the next finality boundary (earliest
    * pending conversion, else the kept touch's horizon end) flushes
    * users whose streams go quiet.
    */
  def attributionStream(events: Dataset[EventWithTs],
      touchTypes: Seq[String] = graft.operators.EventAnalytics.TouchTypes,
      convType: String = "purchase",
      horizonNs: Long =
        graft.operators.EventAnalytics.AttributionHorizonUs * 1000L)
      : Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    val touchSet = touchTypes.toSet
    // the batch window orders by (µs, event_id): quantize before comparing
    def key(tsNs: Long, id: Long): (Long, Long) = (tsNs / 1000, id)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventWithTs],
            state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(Nil, Nil))
          if (!state.hasTimedOut) {
            it.foreach { e =>
              if (touchSet.contains(e.event_type))
                st = st.copy(touches =
                  AttrTouch(e.ts_ns, e.event_id, e.event_type) :: st.touches)
              else if (e.event_type == convType)
                st = st.copy(pending =
                  AttrPending(e.ts_ns, e.event_id, e.value) :: st.pending)
            }
          }
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          // finalize: conversions the watermark has passed
          val (fin, stillPending) = st.pending.partition(_.tsNs <= wmNs)
          val out = fin.sortBy(p => key(p.tsNs, p.eventId)).map { p =>
            val pk = key(p.tsNs, p.eventId)
            val cand = st.touches.filter(t =>
              Ordering[(Long, Long)].lt(key(t.tsNs, t.eventId), pk))
            val channel = cand.sortBy(t => key(t.tsNs, t.eventId))
              .lastOption match {
              case Some(t) if p.tsNs / 1000 - t.tsNs / 1000 <=
                horizonNs / 1000 => t.tpe
              case _ => "direct"
            }
            AttrOut(userId, p.eventId, p.tsNs, channel, p.value)
          }
          // prune touches: all above the watermark, plus the latest at
          // or below it (while its horizon can still reach a future
          // conversion)
          val (above, below) = st.touches.partition(_.tsNs > wmNs)
          val keptBelow = below.sortBy(t => key(t.tsNs, t.eventId))
            .lastOption.filter(t => t.tsNs + horizonNs >= wmNs).toList
          st = AttrState(above ++ keptBelow, stillPending)
          if (st.touches.isEmpty && st.pending.isEmpty) {
            state.remove()
          } else {
            state.update(st)
            val boundaryNs =
              if (st.pending.nonEmpty) st.pending.map(_.tsNs).min
              else st.touches.map(_.tsNs + horizonNs).min
            state.setTimeoutTimestamp(
              math.max(boundaryNs / 1000000L + 1,
                state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** Windowed top-k: the 3 most frequent event types per 5-minute
    * window (count desc, type as tiebreaker) — the batch form of the
    * per-window heavy-hitters question the streaming
    * [[DocStreams.windowedHeavyHitters]] answers with a bounded
    * sketch. Exact here: the per-(window, type) counts partial-
    * aggregate map-side, and the rank window runs inside each window
    * partition over ≤ |event types| rows.
    */
  def stWindowTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("win_start_s"))
      .orderBy(col("n").desc, col("event_type"))
    Tables.events(s, d)
      .groupBy(
        (expr(s"ts_ns DIV ${WindowSec * NsPerSec}") * WindowSec)
          .as("win_start_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("win_start_s"), col("rnk"))
  }

  val stWindowTopkSql: String =
    s"""SELECT win_start_s, event_type, n, CAST(rnk AS INTEGER) AS rnk
       |FROM (
       |  SELECT win_start_s, event_type, n,
       |    ROW_NUMBER() OVER (PARTITION BY win_start_s
       |      ORDER BY n DESC, event_type) AS rnk
       |  FROM (SELECT (epoch_ns(ts) // ${WindowSec * NsPerSec}) * $WindowSec AS win_start_s,
       |          event_type, COUNT(*) AS n
       |        FROM events GROUP BY 1, 2) c) r
       |WHERE rnk <= 3
       |ORDER BY win_start_s, rnk""".stripMargin

  /** CDC-style latest-by-key snapshot (batch form): each user's most
    * recent event — max over the (ts, event_id) total order, carried
    * with its payload columns via ONE `max(struct(...))` aggregate
    * (struct ordering is lexicographic and (ts_us, event_id) is unique,
    * so the trailing fields never decide). The canonical "compact a
    * changelog to current state" operator: one shuffle on the key,
    * partial max on the map side, output size = |keys| regardless of
    * changelog length. [[latestByKeyStream]] is the continuously-
    * maintained twin.
    */
  /** Frame-parametric latest-by-key core: one row per `key` holding the
    * lexicographic max of `cols` (put the ordering columns first; a
    * unique tiebreaker among them makes the trailing payload columns
    * deterministic). The ONE definition shared by the gated
    * [[stLatestByKey]] and `graft.api.Events.latestByKey`.
    */
  def latestByKey(df: DataFrame, key: String, cols: Seq[String]): DataFrame =
    df.groupBy(col(key))
      .agg(max(struct(cols.map(col): _*)).as("__last"))
      .select(col(key) +: cols.map(c => col(s"__last.$c").as(c)): _*)

  def stLatestByKey(s: SparkSession, d: String): DataFrame =
    latestByKey(
      Tables.events(s, d).select(
        col("user_id"),
        expr("ts_ns DIV 1000").as("last_ts_us"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value")),
      "user_id",
      Seq("last_ts_us", "last_event_id", "last_event_type", "last_value"))
      .orderBy(col("user_id"))

  /** DuckDB mirror: arg_max over the same HUGEINT (ts, id) total-order
    * key as [[stAsofEnrichSql]] — micros × 10¹² + event id (ids stay
    * far below 10¹²; BIGINT would overflow at epoch-micros scale).
    */
  val stLatestByKeySql: String =
    """SELECT user_id,
      |  MAX(epoch_us(ts)) AS last_ts_us,
      |  arg_max(event_id,
      |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS last_event_id,
      |  arg_max(event_type,
      |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS last_event_type,
      |  arg_max(value,
      |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id) AS last_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  final case class LatestOut(user_id: Long, last_ts_ns: Long,
      last_event_id: Long, last_event_type: String, last_value: Double)

  /** Continuously-maintained latest-by-key: `mapGroupsWithState` keeps
    * ONE row of state per key (the current winner of the (ts_ns,
    * event_id) order) and re-emits it whenever a batch touches the key
    * — Update output mode, the streaming materialization of
    * [[stLatestByKey]]. No timeout and no watermark: a CDC snapshot is
    * permanent state by design (the state size is the key cardinality,
    * not the stream length). Runs identically on a batch Dataset
    * (each group arrives once, state is fresh) — how the spec oracles
    * it against the aggregate form.
    */
  def latestByKeyStream(events: Dataset[Event]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestOut, LatestOut](GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[LatestOut]) =>
          val incoming = it.map(e =>
            LatestOut(userId, e.ts_ns, e.event_id, e.event_type, e.value))
          val best = (state.getOption.iterator ++ incoming).maxBy(o =>
            (o.last_ts_ns, o.last_event_id))
          state.update(best)
          best
      }
  }

  final case class Scd2Buf(tsNs: Long, eventId: Long, tpe: String)
  final case class Scd2Open(tpe: String, fromUs: Long, n: Long)
  final case class Scd2State(buf: List[Scd2Buf], open: Option[Scd2Open])
  final case class Scd2Out(user_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long, n_events: Long)

  /** Continuously-maintained SCD Type-2: the streaming twin of
    * [[graft.operators.EventAnalytics.scd2Intervals]]. Emits each
    * CLOSED validity interval exactly once, the moment the different-
    * value event that closes it is processed; the open interval lives
    * in state (it is the dimension's current row — the thing
    * [[latestByKeyStream]] emits — and in append mode it is
    * unemittable because a closing event may always arrive).
    *
    * Event-time correctness under disorder: arrivals buffer until the
    * watermark passes them, then fold into the open interval in
    * `(ts, event_id)` order — so interval boundaries are decided by
    * EVENT time regardless of arrival order, and every emitted row is
    * final (nothing at-or-below the watermark can still arrive:
    * beyond-watermark stragglers are dropped on entry, the watermark
    * contract, matching the admission rule of the windowed aggs).
    * State per user = one open interval + the in-flight buffer, which
    * the watermark bounds — the changelog itself is never retained.
    * Closed intervals equal the batch core's non-current rows
    * (spec-pinned, randomized); the batch query's `is_current` row is
    * the end-of-stream view append mode never reaches.
    *
    * BOUNDARY SEMANTICS: admission is `ts >= watermark` and the fold
    * finalizes only `ts < watermark` — Spark's own convention (its
    * stateful late filter keeps `ts >= watermark` rows), so an arrival
    * whose event time lands EXACTLY on the current (ms-granularity)
    * watermark is ADMITTED and buffers until the watermark passes it
    * (spec-pinned by a boundary fixture). The split keeps every
    * emitted row final: the finalized set (`< wm`) and the admissible
    * set (`>= wm`) are disjoint, so no admissible arrival can touch an
    * instant the fold already emitted. Only genuinely late rows
    * (`ts < watermark`) drop — and those Spark's own pre-operator
    * late filter removes first, so the in-function drop branch is
    * defense-in-depth. The drop is observable, not silent: pass
    * `droppedAtWatermark` and every entry-dropped event increments it
    * (the monitoring hook a production job alerts on — drops should
    * be ~0). NOTE the accumulator counts AT-LEAST-ONCE: it increments
    * inside a transformation, so a task retry, speculative duplicate,
    * or failed-micro-batch replay re-counts the same event — alert on
    * "nonzero", never on the exact magnitude (a committed-batch side
    * output is the exactly-once alternative when magnitude matters).
    */
  def scd2Stream(events: Dataset[EventWithTs],
      droppedAtWatermark: Option[org.apache.spark.util.LongAccumulator] =
        None): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    // the batch window orders by (µs, event_id): quantize before comparing
    def key(b: Scd2Buf): (Long, Long) = (b.tsNs / 1000, b.eventId)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventWithTs],
            state: GroupState[Scd2State]) =>
          var st = state.getOption.getOrElse(Scd2State(Nil, None))
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          // admit at-or-above-watermark arrivals (Spark's convention:
          // the late filter drops only ts < watermark); the fold below
          // finalizes strictly-below-watermark instants, so an
          // admitted boundary event can never un-finalize an emitted
          // row — it waits until the watermark passes it
          if (!state.hasTimedOut) it.foreach { e =>
            if (e.ts_ns >= wmNs)
              st = st.copy(buf = Scd2Buf(e.ts_ns, e.event_id, e.event_type)
                :: st.buf)
            else droppedAtWatermark.foreach(_.add(1L))
          }
          // fold the events the watermark has PASSED, in event order
          val (ready, waiting) = st.buf.partition(_.tsNs < wmNs)
          val out = scala.collection.mutable.ListBuffer.empty[Scd2Out]
          var open = st.open
          ready.sortBy(key).foreach { b =>
            val us = b.tsNs / 1000
            open match {
              case Some(o) if o.tpe == b.tpe =>
                open = Some(o.copy(n = o.n + 1))
              case Some(o) =>
                out += Scd2Out(userId, o.tpe, o.fromUs, us, o.n)
                open = Some(Scd2Open(b.tpe, us, 1L))
              case None =>
                open = Some(Scd2Open(b.tpe, us, 1L))
            }
          }
          state.update(Scd2State(waiting, open))
          // a non-empty buffer must wake this group when the watermark
          // passes its earliest event — without a timeout, a group no
          // batch touches again would never fold its tail
          if (waiting.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(waiting.map(_.tsNs).min / 1000000L + 1,
                state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** Streaming as-of enrichment: each purchase joined to the LATEST
    * same-user view at-or-before it within a 1-hour lookback — the
    * continuous form of the as-of join ([[graft.operators.AsOfJoin]]).
    * Two chained stateful operators: a stream-stream interval join
    * (state bounded by BOTH watermarks — a view older than
    * watermark − 1 h can never match a future purchase and is
    * evicted) feeding a windowed `max_by` that picks the newest
    * matching view per purchase once the watermark closes its window.
    * The join emits rows carrying the current batch's purchase event
    * time, never below the watermark, so the chain is safe — the
    * session-scoped correctness flag is lowered with the same
    * justification as [[DocStreams.streamingNearDupVoted]].
    * Tie on view time breaks by the higher view id (the struct
    * ordering), deterministically. On a batch frame the same plan runs
    * with watermarks as no-ops and EVERY window emitting; a bounded
    * streaming run emits the batch rows restricted to windows the
    * final watermark closes (append mode withholds the unfinalizable
    * tail) — which is exactly what the spec asserts. The gated
    * `st_asof_enrich` form is the batch run.
    */
  def latestViewBeforePurchase(events: DataFrame): DataFrame = {
    if (events.isStreaming)
      events.sparkSession.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    purchaseViewInterval(events)
      .groupBy(window(col("p_ts"), s"$WindowSec seconds"),
        col("p_id"), col("p_user"))
      .agg(
        max_by(col("v_id"), struct(col("v_ts"), col("v_id")))
          .as("last_view_id"),
        max(col("v_ts")).as("last_view_ts"))
      .select(col("p_id"), col("p_user").as("user_id"),
        col("last_view_id"),
        unix_micros(col("last_view_ts")).as("last_view_us"))
  }

  def stAsofEnrich(s: SparkSession, d: String): DataFrame =
    latestViewBeforePurchase(Tables.events(s, d)).orderBy(col("p_id"))

  /** DuckDB mirror: arg_max over a HUGEINT total-order key — micros ×
    * 10¹² + view id, lexicographic (ts, id) as long as ids stay below
    * 10¹² (they are ~10⁷ even in the shifted-id 10× probes; BIGINT
    * would overflow at epoch-micros scale, hence HUGEINT). DuckDB
    * truncates the parquet nanos to micros on read, the same value as
    * `ts_ns DIV 1000`.
    */
  val stAsofEnrichSql: String =
    """SELECT p.event_id AS p_id, p.user_id,
      |  arg_max(v.event_id,
      |    CAST(epoch_us(v.ts) AS HUGEINT) * 1000000000000 + v.event_id) AS last_view_id,
      |  MAX(epoch_us(v.ts)) AS last_view_us
      |FROM events p JOIN events v
      |  ON p.user_id = v.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |GROUP BY 1, 2
      |ORDER BY p_id""".stripMargin

  /** Gated batch twin of [[streamingDedup]]. The gate corpus has unique
    * event ids, so deduping it directly would certify nothing; instead
    * the query simulates at-least-once delivery (every 7th event is
    * redelivered via a union) and certifies that the dedup collapses the
    * redelivery back to exactly-once counts. The streaming form —
    * `dropDuplicatesWithinWatermark`, watermark-bounded state, survival
    * across a checkpointed restart — is verified in `EventStreamsSpec`.
    */
  def stDedup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val atLeastOnce = ev.unionByName(ev.filter(col("event_id") % 7 === 0))
    streamingDedup(atLeastOnce)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Redelivered copies are full-row identical, so dedup-by-event_id is
    * DISTINCT over the projected columns.
    */
  val stDedupSql: String =
    """WITH alo AS (
      |  SELECT event_id, user_id, event_type FROM events
      |  UNION ALL
      |  SELECT event_id, user_id, event_type FROM events WHERE event_id % 7 = 0),
      |dd AS (SELECT DISTINCT event_id, user_id, event_type FROM alo)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM dd
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ── Streaming rate-anomaly scoring ────────────────────────────────

  /** Hours of history the static baseline must hold before scoring. */
  val AnomalyBaselineMinHours = 24L

  /** Per-event-type integer moments over hourly counts — the STATIC
    * baseline [[anomalyScoreStream]] scores against. Computed batch-
    * side (the training half of the deployment); tiny (one row per
    * event type), so the stream side can broadcast it.
    */
  def hourlyBaseline(ev: DataFrame): DataFrame =
    ev
      .groupBy(col("event_type"),
        expr(s"ts_ns DIV ${3600 * NsPerSec}").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("cnt")).as("sum_cnt"),
        sum(col("cnt") * col("cnt")).as("sumsq_cnt"))

  /** Streaming rate-anomaly serving: watermarked tumbling hourly counts
    * per event type, scored against the static [[hourlyBaseline]] by a
    * stateless broadcast join — the deployed topology (baseline trained
    * batch-side over history, the stream only windows and scores). The
    * z and the flag are [[graft.operators.EventAnalytics.zColumns]] —
    * the same exact-integer machinery as the batch `ev_anomaly`, so
    * cross-engine and batch/stream results are bit-identical. Works on
    * a batch frame too (watermark no-ops), which is how the gated
    * `st_anomaly` twin certifies the whole chain.
    */
  def anomalyScoreStream(events: DataFrame, baseline: DataFrame,
      zThresh: Long = graft.operators.EventAnalytics.AnomalyZ): DataFrame = {
    val counted = events
      .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "3600 seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("cnt"))
      .join(broadcast(baseline), Seq("event_type"))
    val (z, flag) = graft.operators.EventAnalytics.zColumns(
      col("n_hours"), col("cnt"), col("sum_cnt"), col("sumsq_cnt"),
      AnomalyBaselineMinHours, zThresh)
    counted.select(col("event_type"), col("hour_s"), col("cnt"),
      z.as("z"), flag.as("is_anomaly"))
  }

  /** Gated batch twin of [[anomalyScoreStream]]: the baseline is
    * trained on the full table and the same table's hours are scored —
    * retrospective scoring, so each hour is inside its own baseline
    * (exactly how a backfill audit runs; the live deployment trains on
    * history only). Streaming execution of the same plan is verified in
    * `EventStreamsSpec`.
    */
  def stAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    anomalyScoreStream(ev, hourlyBaseline(ev))
      .orderBy(col("event_type"), col("hour_s"))
  }

  val stAnomalySql: String = {
    val minH = AnomalyBaselineMinHours
    val z2 = graft.operators.EventAnalytics.AnomalyZ *
      graft.operators.EventAnalytics.AnomalyZ
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_ns(ts) // ${3600 * NsPerSec} AS hour,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |base AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |    CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
       |    CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq_cnt
       |  FROM hourly GROUP BY 1),
       |zc AS (
       |  SELECT h.event_type, h.hour * 3600 AS hour_s, h.cnt, b.n_hours,
       |    CAST(b.n_hours AS HUGEINT) * h.cnt - b.sum_cnt AS dev,
       |    CAST(b.n_hours AS HUGEINT) * b.sumsq_cnt
       |      - CAST(b.sum_cnt AS HUGEINT) * b.sum_cnt AS varnum
       |  FROM hourly h JOIN base b ON h.event_type = b.event_type)
       |SELECT event_type, hour_s, cnt,
       |  CASE WHEN n_hours >= $minH AND varnum > 0
       |    THEN CAST(dev AS DOUBLE) / sqrt(CAST(varnum AS DOUBLE))
       |  END AS z,
       |  (n_hours >= $minH
       |   AND dev * dev >= $z2 * varnum
       |   AND NOT (varnum = 0 AND dev = 0)) AS is_anomaly
       |FROM zc
       |ORDER BY event_type, hour_s""".stripMargin
  }

  /** Gated batch twin of [[attributionStream]]: the per-conversion
    * attribution rows over the corpus, via the SAME core the rollup
    * `ev_attribution` uses ([[graft.operators.EventAnalytics
    * .attributedPurchases]]) — this row anchors the streaming path's
    * semantics to a DuckDB oracle (the streaming execution itself is
    * certified batch-equal in `EventStreamsSpec`).
    */
  def stAttr(s: SparkSession, d: String): DataFrame =
    graft.operators.EventAnalytics.attributedPurchases(
      Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), col("value"), expr("ts_ns DIV 1000").as("ts_us")))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("channel"),
        // integer cents, not the raw double: the driver compares
        // hashed values and the double survives intact anyway, but
        // cents keep this row consistent with ev_attribution's sums
        floor(col("value") * lit(100.0)).cast(LongType).as("value_cents"))
      .orderBy(col("user_id"), col("event_id"))

  val stAttrSql: String = {
    val touchList = graft.operators.EventAnalytics.TouchTypes
      .map(t => s"'$t'").mkString("(", ",", ")")
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
       |  FROM ev)
       |SELECT user_id, event_id, ts_us,
       |  CASE WHEN touch_us IS NOT NULL
       |       AND ts_us - touch_us <= ${graft.operators.EventAnalytics.AttributionHorizonUs}
       |  THEN touch_type ELSE 'direct' END AS channel,
       |  CAST(floor(value * 100.0) AS BIGINT) AS value_cents
       |FROM touched WHERE event_type = 'purchase'
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Gated batch twin of [[scd2Stream]]: the CLOSED validity intervals
    * over the corpus — exactly the rows append-mode streaming can ever
    * emit (the open interval per user is the end-of-stream `is_current`
    * row the batch form [[graft.operators.EventAnalytics.evScd2]] also
    * reports; a stream never reaches end-of-stream). Same core
    * ([[graft.operators.EventAnalytics.scd2Intervals]]); the streaming
    * execution itself is certified batch-equal under disorder and
    * restart in `EventStreamsSpec`'s randomized SCD2 fixture.
    */
  def stScd2(s: SparkSession, d: String): DataFrame =
    graft.operators.EventAnalytics.scd2Intervals(
      Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts_ns DIV 1000").as("ts_us")))
      .filter(!col("is_current"))
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
      .orderBy(col("user_id"), col("valid_from_us"))

  /** DuckDB mirror: [[graft.operators.EventAnalytics.evScd2Sql]]'s
    * chain with the open (`LEAD IS NULL`) interval filtered out.
    */
  val stScd2Sql: String =
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
      |  FROM r GROUP BY user_id, run),
      |iv AS (
      |  SELECT user_id, event_type, valid_from_us,
      |    LEAD(valid_from_us) OVER wr AS valid_to_us, n_events
      |  FROM g
      |  WINDOW wr AS (PARTITION BY user_id ORDER BY run))
      |SELECT user_id, event_type, valid_from_us, valid_to_us, n_events
      |FROM iv WHERE valid_to_us IS NOT NULL
      |ORDER BY user_id, valid_from_us""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("st_attr",           stAttr,          stAttrSql),
    Gated("st_scd2",           stScd2,          stScd2Sql),
    Gated("st_anomaly",        stAnomaly,       stAnomalySql),
    Gated("st_window_agg",     stWindowAgg,     stWindowAggSql),
    Gated("st_sliding_window", stSlidingWindow, stSlidingWindowSql),
    Gated("st_sessionize",     stSessionize,    stSessionizeSql),
    Gated("st_asof_enrich",    stAsofEnrich,    stAsofEnrichSql),
    Gated("st_latest_by_key",  stLatestByKey,   stLatestByKeySql),
    Gated("st_window_topk",    stWindowTopk,    stWindowTopkSql),
    Gated("st_dedup",          stDedup,         stDedupSql),
  )
}
