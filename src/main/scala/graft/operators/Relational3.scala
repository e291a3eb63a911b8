package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Third relational tranche: semi-structured (JSON) extraction, array
  * aggregation, regex extraction, date arithmetic, ordered string
  * aggregation, and null-handling scalars.
  */
object Relational3 {

  /** JSON extraction over the events `props` column + aggregation. */
  def q29Json(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))

  val q29JsonSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CASE WHEN CAST(props->>'$.k' AS INTEGER) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Array aggregation: sorted distinct sets per group. The set is built
    * as a real array aggregate (collect_set → array_sort) and serialized
    * to a comma string only at output — raw array columns are unhashable
    * in the driver's pandas-based comparator (numpy.ndarray cells broke
    * the round-1 oracle run), and a delimited string compares bit-exactly.
    */
  def q30ArrayAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        size(collect_set(col("l_suppkey"))).as("n_supps"))
      .orderBy(col("l_returnflag"))

  val q30ArrayAggSql: String =
    """SELECT l_returnflag,
      |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      |  CAST(len(list(DISTINCT l_suppkey)) AS INTEGER) AS n_supps
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Regex extraction: leading word of the part type, counted. */
  def q31Regex(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"))
      .groupBy(col("type_head"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("type_head"))

  val q31RegexSql: String =
    """SELECT regexp_extract(p_type, '^(\w+)', 1) AS type_head, COUNT(*) AS n
      |FROM part
      |GROUP BY 1
      |ORDER BY type_head""".stripMargin

  /** Date arithmetic: ship-delay stats per month (datediff + trunc). */
  def q32DateArith(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val l = lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        date_trunc("month", col("o_orderdate")).as("order_month"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("delay_days"))
      .groupBy(col("order_month"))
      .agg(
        count(lit(1)).as("n"),
        max(col("delay_days")).as("max_delay"),
        min(col("delay_days")).as("min_delay"),
        sum(col("delay_days")).cast("long").as("sum_delay"))
      .orderBy(col("order_month"))
  }

  val q32DateArithSql: String =
    """SELECT date_trunc('month', o_orderdate) AS order_month, COUNT(*) AS n,
      |  CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_delay,
      |  CAST(MIN(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER) AS min_delay,
      |  CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS sum_delay
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY order_month""".stripMargin

  /** Ordered string aggregation per region. */
  def q33StringAgg(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d)
    val r = region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
        .as("nations"))
      .orderBy(col("r_name"))
  }

  val q33StringAggSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation, region
      |WHERE n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Null-handling scalars: nullif / coalesce / null-aware counts. */
  def q34NullOps(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"),
        nullif(col("l_discount"), lit(0.0)).as("disc_or_null"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("disc_or_null")).as("n_discounted"),
        sum(when(col("disc_or_null").isNull, 1L).otherwise(0L)).as("n_zero"),
        dsum(coalesce(col("disc_or_null"), lit(0.0))).as("sum_disc"))
      .orderBy(col("l_returnflag"))

  val q34NullOpsSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  COUNT(NULLIF(l_discount, 0.0)) AS n_discounted,
       |  CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  ${dsumSql("COALESCE(NULLIF(l_discount, 0.0), 0.0)")} AS sum_disc
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** The navigation-window family: lag/lead/first/last/ntile over each
    * customer's order history (deterministic total order).
    */
  def q35WindowNav(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_orderkey")).over(wFull).as("first_order"),
        last(col("o_orderkey")).over(wFull).as("last_order"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q35WindowNavSql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_totalprice, 1) OVER w AS prev_price,
      |  LEAD(o_totalprice, 1) OVER w AS next_price,
      |  FIRST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
      |  LAST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
      |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("q35_window_nav", q35WindowNav, q35WindowNavSql),
    Gated("q29_json",       q29Json,      q29JsonSql),
    Gated("q30_array_agg",  q30ArrayAgg,  q30ArrayAggSql),
    Gated("q31_regex",      q31Regex,     q31RegexSql),
    Gated("q32_date_arith", q32DateArith, q32DateArithSql),
    Gated("q33_string_agg", q33StringAgg, q33StringAggSql),
    Gated("q34_null_ops",   q34NullOps,   q34NullOpsSql),
  )
}
