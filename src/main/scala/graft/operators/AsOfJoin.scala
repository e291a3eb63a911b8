package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.sources.Tables

/** The as-of (nearest-prior) join queries — an operator Spark SQL
  * lacks natively, served by the custom exec ([[graft.plans.AsOf]]).
  * Spark 4.1's `Dataset.joinAsOf` plans a per-key cartesian product
  * under a `min_by` aggregate. A window composition (tag and union both
  * sides, `ignoreNulls last` over each key) was a second implementation;
  * it ran slower than the exec at sf0.1 on 4 cores and was removed.
  *
  * Oracle: DuckDB's native `ASOF JOIN`.
  */
object AsOfJoin {

  /** Each `purchase` event and the user's `view` events deduped to one
    * row per (user, µs) by `pick` of their event ids, so payloads are
    * deterministic.
    */
  private def purchasesAndViews(s: SparkSession, d: String,
      pick: Column => Column): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    (ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us")),
     ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts_us").as("view_us"))
      .agg(pick(col("event_id")).as("view_event_id")))
  }

  /** Driver-gated query: each `purchase` event joined to the user's most
    * recent prior-or-simultaneous `view` event, through the nested form
    * `graft.api.Events.asOfJoin` serves.
    */
  def stAsofJoin(s: SparkSession, d: String): DataFrame = {
    val (purchases, views) = purchasesAndViews(s, d, max)
    graft.plans.AsOf.joinNested(purchases, views, probeKey = "user_id",
        buildKey = "v_user", probeTs = "ts_us", buildTs = "view_us")
      .select(
        col("event_id"), col("user_id"), col("ts_us").as("purchase_us"),
        col("asof.view_us").as("view_us"),
        col("asof.view_event_id").as("view_event_id"),
        (col("ts_us") - col("asof.view_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  // views rename to v_user so the flat form's column names stay distinct
  val stAsofJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
      |v AS (SELECT user_id AS v_user, ts_us AS view_us, MAX(event_id) AS view_event_id
      |      FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_us AS purchase_us,
      |  v.view_us, v.view_event_id, p.ts_us - v.view_us AS gap_us
      |FROM p ASOF JOIN v ON p.user_id = v.v_user AND p.ts_us >= v.view_us
      |ORDER BY event_id""".stripMargin

  /** The same as-of query through the flat form of the exec
    * ([[graft.plans.AsOf.join]] — BinaryNode → Strategy → merge exec),
    * gated against the SAME DuckDB ASOF JOIN oracle as [[stAsofJoin]].
    */
  def stAsofCustom(s: SparkSession, d: String): DataFrame = {
    val (purchases, views) = purchasesAndViews(s, d, max)
    graft.plans.AsOf.join(purchases, views,
      probeKey = "user_id", buildKey = "v_user",
      probeTs = "ts_us", buildTs = "view_us")
      .select(
        col("event_id"), col("user_id"), col("ts_us").as("purchase_us"),
        col("view_us"), col("view_event_id"),
        (col("ts_us") - col("view_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of through the custom exec: each `purchase` joined to
    * the user's EARLIEST at-or-after `view` ("what did they do next") —
    * the time-mirrored contract, one peeked merge pass instead of a
    * remembered row ([[graft.plans.AsOf.joinForward]]). Ties on
    * (user, µs) dedupe to MIN event_id (forward picks the earliest, so
    * the deterministic choice mirrors the direction). Oracle: DuckDB's
    * native ASOF JOIN with the `<=` comparator.
    */
  def stAsofFwd(s: SparkSession, d: String): DataFrame = {
    val (purchases, views) = purchasesAndViews(s, d, min)
    graft.plans.AsOf.joinForward(purchases, views,
      probeKey = "user_id", buildKey = "v_user",
      probeTs = "ts_us", buildTs = "view_us")
      .select(
        col("event_id"), col("user_id"), col("ts_us").as("purchase_us"),
        col("view_us"), col("view_event_id"),
        (col("view_us") - col("ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val stAsofFwdSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
      |v AS (SELECT user_id AS v_user, ts_us AS view_us, MIN(event_id) AS view_event_id
      |      FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_us AS purchase_us,
      |  v.view_us, v.view_event_id, v.view_us - p.ts_us AS gap_us
      |FROM p ASOF JOIN v ON p.user_id = v.v_user AND p.ts_us <= v.view_us
      |ORDER BY event_id""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("st_asof_join",   stAsofJoin,   stAsofJoinSql),
    Gated("st_asof_custom", stAsofCustom, stAsofJoinSql),
    Gated("st_asof_fwd",    stAsofFwd,    stAsofFwdSql),
  )
}
