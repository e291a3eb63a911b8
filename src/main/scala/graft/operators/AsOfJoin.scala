package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Gated
import graft.sources.Tables

/** As-of (nearest-prior) join — an operator Spark SQL lacks natively.
  *
  * Preference order from SURVEY.md §7 says compose built-ins before
  * writing a custom SparkPlan, and the as-of join has a clean
  * composition: tag and union both sides, sort each partition-key group
  * by (ts, side), and carry the last build row forward with an
  * `ignoreNulls` window `last` — one shuffle on the partition key, one
  * per-group sort, no range explosion. This is also exactly how a
  * sort-merge AsOfJoinExec would traverse the data, so the composition
  * is the plan a custom operator would produce anyway.
  *
  * Oracle: DuckDB's native `ASOF JOIN`.
  */
object AsOfJoin {

  /** For every probe row, attach the build row with the greatest
    * `buildTs <= probeTs` within the same `key` (inner semantics: probe
    * rows with no prior build row are dropped).
    *
    * Build-side ties on (key, ts) must be pre-deduplicated by the
    * caller if deterministic payloads are required.
    */
  def join(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame = {
    val pType = org.apache.spark.sql.types.StructType(probe.schema.fields)
    val bType = org.apache.spark.sql.types.StructType(build.schema.fields)
    val pStruct = struct(probe.columns.map(col).toIndexedSeq: _*)
    val bStruct = struct(build.columns.map(col).toIndexedSeq: _*)
    val pSide = probe.select(
      col(probeKey).as("__key"), col(probeTs).as("__ts"), lit(1).as("__side"),
      pStruct.as("__p"), lit(null).cast(bType).as("__b"))
    val bSide = build.select(
      col(buildKey).as("__key"), col(buildTs).as("__ts"), lit(0).as("__side"),
      lit(null).cast(pType).as("__p"), bStruct.as("__b"))
    // side 0 sorts before side 1 at equal ts → inclusive (buildTs <= probeTs)
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pSide.unionAll(bSide)
      .withColumn("__asof", last(col("__b"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__asof").isNotNull)
      .select(col("__p.*"), col("__asof").as("asof"))
  }

  /** Driver-gated query: each `purchase` event joined to the user's most
    * recent prior-or-simultaneous `view` event. Build side deduped to
    * one row per (user, µs) so payloads are deterministic.
    */
  def stAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts_us").as("view_us"))
      .agg(max(col("event_id")).as("view_event_id"))
    join(purchases, views, probeKey = "user_id", buildKey = "v_user",
      probeTs = "ts_us", buildTs = "view_us")
      .select(
        col("event_id"), col("user_id"), col("ts_us").as("purchase_us"),
        col("asof.view_us").as("view_us"),
        col("asof.view_event_id").as("view_event_id"),
        (col("ts_us") - col("asof.view_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  // join() maps "__key" from the probe's `key` column; views rename to
  // v_user purely to avoid column capture in the example above.
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

  /** The same as-of query through the CUSTOM operator
    * ([[graft.plans.AsOf.join]] — BinaryNode → Strategy → merge exec)
    * instead of the union-window composition; the two are gated against
    * the SAME DuckDB ASOF JOIN oracle, so agreement is machine-checked
    * every round.
    */
  def stAsofCustom(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts_us").as("view_us"))
      .agg(max(col("event_id")).as("view_event_id"))
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
    val ev = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts_us").as("view_us"))
      .agg(min(col("event_id")).as("view_event_id"))
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
