package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Relational operator layer: scans, projections, filters, hash/broadcast
  * joins, semi/anti joins, aggregations, grouping sets, windows, sorts,
  * limits, set operations, subqueries.
  *
  * The reference has none of these (SURVEY.md §2e — its only query surface
  * is MapReduce flatMap/groupByKey, `dfs/wordcountjob.go:16-39`); this layer
  * is the declarative engine surface the rebuild exposes instead, lowered
  * entirely to Catalyst-visible DataFrame ops so pushdown / pruning /
  * join-strategy selection / AQE apply.
  *
  * Every query is deterministically ordered and uses decimal-exact double
  * aggregation (see [[graft.functions.dsum]]) so results hash-match the
  * DuckDB oracle bit-for-bit.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: the canonical wide hash aggregate.
    * Partial (map-side) aggregation + final merge is automatic; at 100 TB
    * the only shuffle is the 6-group exchange of partial aggregates.
    */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumProdSql("l_extendedprice", "(CAST(1 AS DOUBLE) - l_discount)")} AS sum_disc_price,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Filtered projection + top-N: predicate and the 4-column projection
    * both push down to the parquet scan (no full-row read), and the sort
    * is a TakeOrderedAndProject (bounded heap per partition), not a
    * global sort — the shape that survives 100 TB.
    */
  def q2FilterTopn(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
               col("l_linenumber"))
      .limit(100)

  val q2FilterTopnSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_quantity > 45
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** TPC-H Q3-style shipping-priority join: customer ⋈ orders ⋈ lineitem.
    * customer is the small side — broadcast it; orders⋈lineitem is the big
    * shuffle join on orderkey.
    */
  def q3JoinAgg(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = lineitem(s, d)
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinAggSql: String =
    s"""SELECT l_orderkey, o_orderdate,
       |  ${dsumProdSql("l_extendedprice", "(CAST(1 AS DOUBLE) - l_discount)")} AS revenue
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate  > TIMESTAMP '1997-01-01'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** Broadcast dimension join: fact lineitem ⋈ broadcast(part), agg by
    * brand. At 100 TB part stays far below the broadcast threshold
    * relative to lineitem — no shuffle of the fact table at all.
    */
  def q4BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
    val p = part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val q4BroadcastJoinSql: String =
    s"""SELECT p_brand,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_price,
       |  COUNT(*) AS n_items
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** TPC-H Q5-style five-way join through the star schema: local-supplier
    * volume per nation within a region. Dimensions (region/nation/
    * customer/supplier) broadcast; the orders⋈lineitem spine shuffles on
    * orderkey only.
    */
  def q5MultiJoin(s: SparkSession, d: String): DataFrame = {
    val r = region(s, d).filter(col("r_name") === "ASIA")
    val n = nation(s, d)
    val c = customer(s, d)
    val sp = supplier(s, d)
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val l = lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(sp),
        l("l_suppkey") === sp("s_suppkey") &&
        c("c_nationkey") === sp("s_nationkey"))
      .join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultiJoinSql: String =
    s"""SELECT n_name,
       |  ${dsumProdSql("l_extendedprice", "(CAST(1 AS DOUBLE) - l_discount)")} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6-style single-row aggregate: the purest pushdown test —
    * all three predicates reach the parquet scan, the agg is one partial
    * per partition + a single final row.
    */
  def q6Pricing(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(dsumProd(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6PricingSql: String =
    s"""SELECT
       |  ${dsumProdSql("l_extendedprice", "l_discount")} AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |  AND l_shipdate <  TIMESTAMP '1998-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** Left-semi join (EXISTS): customers having at least one high-value
    * order. Semi joins ship only the join key of the probe side — no
    * payload shuffle.
    */
  def q7SemiJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q7SemiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no 1995 orders. */
  def q8AntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q8AntiJoinSql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-3 orders per customer. row_number is computed
    * inside one hash-partitioned sort per customer — no global sort.
    */
  def q9WindowTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
              col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q9WindowTopkSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |      FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Running-total window (RANGE frame, so shipdate ties are peers and
    * the result is order-insensitive; quantity is integral so the double
    * sum is exact under any addition order).
    */
  def q10WindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
              col("l_shipdate"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
               col("l_linenumber"))
  }

  val q10WindowRunningSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |  SUM(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS running_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-01-01'
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** Distinct aggregation: per-flag distinct order/part counts. */
  def q11Distinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val q11DistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Set operations: (customer nations UNION supplier nations) EXCEPT
    * region-0 nations — exercises UNION DISTINCT and EXCEPT semantics.
    */
  def q12SetOps(s: SparkSession, d: String): DataFrame = {
    val cn = customer(s, d).select(col("c_nationkey").as("nk"))
    val sn = supplier(s, d).select(col("s_nationkey").as("nk"))
    val excl = nation(s, d).filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("nk"))
    cn.union(sn).distinct().except(excl).orderBy(col("nk"))
  }

  val q12SetOpsSql: String =
    """(SELECT c_nationkey AS nk FROM customer
      | UNION
      | SELECT s_nationkey AS nk FROM supplier)
      |EXCEPT
      |SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 0
      |ORDER BY nk""".stripMargin

  /** ROLLUP grouping sets over (returnflag, linestatus). */
  def q13Rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  val q13RollupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** HAVING: brands with more than 300 lineitems shipped in 1999. */
  def q14Having(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("2000-01-01").cast("timestamp"))
    val p = part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 300)
      .orderBy(col("p_brand"))
  }

  val q14HavingSql: String =
    """SELECT p_brand, COUNT(*) AS n
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1999-01-01'
      |  AND l_shipdate <  TIMESTAMP '2000-01-01'
      |GROUP BY p_brand
      |HAVING COUNT(*) > 300
      |ORDER BY p_brand""".stripMargin

  /** TPC-H Q17-style correlated scalar subquery: lineitems below 20% of
    * their part's average quantity. Expressed Catalyst-style as a
    * broadcast join against the per-part aggregate (what decorrelation
    * would produce); avg of integral quantities is order-exact.
    */
  def q15SubqueryAvg(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
    val avgQ = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    l.join(broadcast(avgQ), l("l_partkey") === avgQ("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
           count(lit(1)).as("n"))
      .orderBy(col("l_partkey"))
  }

  val q15SubqueryAvgSql: String =
    s"""SELECT l_partkey, ${dsumSql("l_extendedprice")} AS sum_price,
       |  COUNT(*) AS n
       |FROM lineitem l1
       |WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
       |                    WHERE l2.l_partkey = l1.l_partkey)
       |GROUP BY l_partkey
       |ORDER BY l_partkey""".stripMargin

  /** Date-function aggregation: orders per (year, month). */
  def q16DateAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"),
               month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("yr"), col("mo"))

  val q16DateAggSql: String =
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       |  CAST(month(o_orderdate) AS INTEGER) AS mo,
       |  COUNT(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY 1, 2
       |ORDER BY yr, mo""".stripMargin

  /** String scalar functions: upper/substring/length/concat/replace. */
  def q17StringFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_type"), 1, 6).as("type6"),
        length(col("p_name")).as("name_len"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("snake_name"))
      .orderBy(col("p_partkey"))

  val q17StringFuncsSql: String =
    """SELECT p_partkey,
      |  upper(p_name) AS uname,
      |  substr(p_type, 1, 6) AS type6,
      |  CAST(length(p_name) AS INTEGER) AS name_len,
      |  concat_ws('/', p_brand, p_type) AS brand_type,
      |  replace(p_name, ' ', '_') AS snake_name
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** CUBE grouping sets over (orderstatus, orderpriority). */
  def q18Cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  val q18CubeSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Left outer join + null-aware aggregation: order count per customer
    * including order-less customers (count of a null column skips nulls).
    */
  def q19OuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
      .orderBy(col("c_custkey"))
  }

  val q19OuterJoinSql: String =
    s"""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       |  COALESCE(${dsumSql("o_totalprice")}, 0.0) AS sum_price
       |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY c_custkey""".stripMargin

  /** TPC-H Q12-style conditional aggregation with CASE WHEN. */
  def q20CondAgg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("n_finished"),
        sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L))
          .as("n_other"))
      .orderBy(col("o_orderpriority"))
  }

  val q20CondAggSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      |  CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_other
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("q1_agg",             q1Agg,            q1AggSql),
    Gated("q2_filter_topn",     q2FilterTopn,     q2FilterTopnSql),
    Gated("q3_join_agg",        q3JoinAgg,        q3JoinAggSql),
    Gated("q4_broadcast_join",  q4BroadcastJoin,  q4BroadcastJoinSql),
    Gated("q5_multi_join",      q5MultiJoin,      q5MultiJoinSql),
    Gated("q6_pricing",         q6Pricing,        q6PricingSql),
    Gated("q7_semi_join",       q7SemiJoin,       q7SemiJoinSql),
    Gated("q8_anti_join",       q8AntiJoin,       q8AntiJoinSql),
    Gated("q9_window_topk",     q9WindowTopk,     q9WindowTopkSql),
    Gated("q10_window_running", q10WindowRunning, q10WindowRunningSql),
    Gated("q11_distinct",       q11Distinct,      q11DistinctSql),
    Gated("q12_setops",         q12SetOps,        q12SetOpsSql),
    Gated("q13_rollup",         q13Rollup,        q13RollupSql),
    Gated("q14_having",         q14Having,        q14HavingSql),
    Gated("q15_subquery_avg",   q15SubqueryAvg,   q15SubqueryAvgSql),
    Gated("q16_date_agg",       q16DateAgg,       q16DateAggSql),
    Gated("q17_string_funcs",   q17StringFuncs,   q17StringFuncsSql),
    Gated("q18_cube",           q18Cube,          q18CubeSql),
    Gated("q19_outer_join",     q19OuterJoin,     q19OuterJoinSql),
    Gated("q20_cond_agg",       q20CondAgg,       q20CondAggSql),
  )
}
