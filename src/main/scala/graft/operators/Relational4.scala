package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.functions._
import graft.sources.Tables._
import graft.streaming.EventStreams

/** Fourth relational tranche: binned range join, explicit GROUPING SETS
  * with grouping_id, deterministic hash sampling, and numeric histogram
  * binning.
  */
object Relational4 {

  /** Events-into-sessions range join: count ALL events (any user) whose
    * timestamp falls inside each of the first 50 users' sessions — a
    * pure point-in-interval join with no equi key, lowered through
    * [[RangeJoin.binned]] so it plans as an equi-join on time bins
    * instead of a nested-loop. Bin width 1 hour ≈ session scale.
    */
  def q36RangeJoin(s: SparkSession, d: String): DataFrame = {
    val sessions = EventStreams.stSessionize(s, d)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("session_idx"),
        col("start_us"), col("end_us"))
    val points = events(s, d).select(expr("ts_ns DIV 1000").as("ts_us"))
    RangeJoin.binned(points, "ts_us", sessions, "start_us", "end_us",
        binWidth = 3600L * 1000000L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events_in_span"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val q36RangeJoinSql: String =
    s"""WITH sess AS (
       |  SELECT user_id, session_idx,
       |    MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
       |  FROM (
       |    SELECT user_id, ts_us,
       |      CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_idx
       |    FROM (
       |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |        CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
       |               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > ${EventStreams.SessionGapNs / 1000}
       |             THEN 1 ELSE 0 END AS is_new
       |      FROM events) a) b
       |  WHERE user_id < 50
       |  GROUP BY user_id, session_idx)
       |SELECT s.user_id, s.session_idx, COUNT(*) AS n_events_in_span
       |FROM sess s JOIN (SELECT epoch_us(ts) AS ts_us FROM events) e
       |  ON e.ts_us BETWEEN s.start_us AND s.end_us
       |GROUP BY s.user_id, s.session_idx
       |ORDER BY s.user_id, s.session_idx""".stripMargin

  /** Explicit GROUPING SETS — (flag, status), (flag), () — with
    * grouping_id distinguishing the aggregation level (Spark and DuckDB
    * share the bit-vector encoding).
    */
  def q37GroupingSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val q37GroupingSetsSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Deterministic 5% hash sample: rows whose md5-bucket of the key
    * falls below the sampling threshold. Unlike TABLESAMPLE/rand(), the
    * sample is a pure function of the key — reproducible across engines,
    * retries, and partitionings (the property that matters when sampling
    * a 100 TB table for a stats pass), and the md5-derived bucket is
    * uncorrelated with key order.
    */
  def q38HashSample(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(md5Bucket(col("c_custkey").cast("string"), 100) < 5)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_sampled"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("c_mktsegment"))

  val q38HashSampleSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_sampled,
       |  ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 5
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Numeric histogram: equal-width bins over order totalprice (floor
    * of a double division — the same IEEE op in both engines).
    */
  def q39Histogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bin"))

  val q39HistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |FROM orders
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** ANALYZE-style column profile over ANY frame: one output row per
    * profiled column — row count, non-null count, exact distinct
    * count, and min/max rendered as strings. The stats pre-flight
    * behind join-strategy and layout decisions (broadcastability,
    * clustering key choice, null-rate sanity).
    *
    * One THIN aggregation per column, unioned — each leg scans only
    * its own column (pruned at the parquet reader) and its exact
    * countDistinct Expands ×2, where the single-pass all-columns form
    * Expands the full multi-column scan ×(n+1): MEASURED 3.0 s → 0.5 s
    * for 3 lineitem columns at sf0.1, and the gap widens with column
    * count. For a quick look at a 100 TB table, sample first
    * (`q38_hash_sample`) or swap in `approx_count_distinct`.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    cols.map { c =>
      df.select(col(c)).agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_s"),
        max(col(c)).cast("string").as("max_s"))
    }.reduce(_ unionByName _)
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  private val ProfileCols = Seq("l_orderkey", "l_returnflag", "l_suppkey")

  def q40ColumnStats(s: SparkSession, d: String): DataFrame =
    columnProfile(lineitem(s, d), ProfileCols).orderBy(col("col_name"))

  val q40ColumnStatsSql: String =
    ProfileCols.sorted.map { c =>
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_s,
         |  CAST(MAX($c) AS VARCHAR) AS max_s
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Correlated EXISTS with a non-equi correlated predicate (the TPC-H
    * Q4 shape): orders with at least one lineitem shipped more than 30
    * days after the order date, counted by priority. Lowered as a
    * LEFT SEMI join carrying the extra `l_shipdate > o_orderdate + 30d`
    * condition — the decorrelation Catalyst applies to EXISTS
    * subqueries, written directly so the plan is one hash semi-join
    * (each order probes once, no duplicate-then-distinct) instead of
    * anything nested-loop shaped.
    */
  def q41ExistsCorrelated(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  val q41ExistsCorrelatedSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Time-RANGE window frame: for each lineitem of the first 20
    * suppliers, the supplier's total shipped quantity over the
    * TRAILING 30 DAYS (`RANGE BETWEEN 30d PRECEDING AND CURRENT ROW`
    * on epoch seconds) — the value-based frame the rows-based running
    * window (`q10`) can't express: ties in ship time all see the same
    * frame, and gaps shrink it. The sum runs in DECIMAL(18,6) and
    * casts to double at the end: frame sums stay far below 2^53
    * unscaled, where BOTH engines' decimal→double casts are exact.
    * One shuffle on the supplier key; frames evaluate inside each
    * partition.
    */
  def q42RangeFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("ship_s"))
      .rangeBetween(-30L * 86400, 0)
    lineitem(s, d)
      .filter(col("l_suppkey") < 20)
      // NTZ→TIMESTAMP reinterprets in the session zone (pinned UTC),
      // matching DuckDB's epoch() over the same naive timestamp
      .withColumn("ship_s", expr("unix_seconds(CAST(l_shipdate AS TIMESTAMP))"))
      .withColumn("qty_30d",
        sum(dec(col("l_quantity"))).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("ship_s"), col("qty_30d"))
      .orderBy(col("l_suppkey"), col("ship_s"), col("l_orderkey"),
        col("l_linenumber"))
  }

  val q42RangeFrameSql: String =
    s"""SELECT l_suppkey, l_orderkey, l_linenumber,
       |  CAST(epoch(l_shipdate) AS BIGINT) AS ship_s,
       |  CAST(SUM(${decSql("l_quantity")}) OVER (
       |    PARTITION BY l_suppkey ORDER BY CAST(epoch(l_shipdate) AS BIGINT)
       |    RANGE BETWEEN ${30L * 86400} PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS qty_30d
       |FROM lineitem
       |WHERE l_suppkey < 20
       |ORDER BY l_suppkey, ship_s, l_orderkey, l_linenumber""".stripMargin

  /** The rank-family window functions not exercised elsewhere — ntile
    * buckets, percent_rank, cume_dist, dense_rank — over one
    * partitioned order with a unique tiebreaker (so every rank is
    * deterministic, and the percent_rank/cume_dist divisions are the
    * same IEEE op on the same integers in both engines).
    */
  def q43WindowRanks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
        col("o_orderkey"))
  }

  val q43WindowRanksSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("q36_range_join",        q36RangeJoin,        q36RangeJoinSql),
    Gated("q37_grouping_sets",     q37GroupingSets,     q37GroupingSetsSql),
    Gated("q38_hash_sample",       q38HashSample,       q38HashSampleSql),
    Gated("q39_histogram",         q39Histogram,        q39HistogramSql),
    Gated("q40_column_stats",      q40ColumnStats,      q40ColumnStatsSql),
    Gated("q41_exists_correlated", q41ExistsCorrelated, q41ExistsCorrelatedSql),
    Gated("q42_range_frame",       q42RangeFrame,       q42RangeFrameSql),
    Gated("q43_window_ranks",      q43WindowRanks,      q43WindowRanksSql),
  )
}
