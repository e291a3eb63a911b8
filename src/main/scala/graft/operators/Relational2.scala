package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Second tranche of the relational surface: pivot, cross join,
  * UNION ALL, IN-subquery, arg-min/max, exact percentiles.
  */
object Relational2 {

  /** Pivot linestatus into columns per returnflag (count + exact sum). */
  def q21Pivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .orderBy(col("l_returnflag"))

  val q21PivotSql: String =
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS "O"
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Cross join of the two smallest dimensions (25 × 5 rows). */
  def q22CrossJoin(s: SparkSession, d: String): DataFrame =
    region(s, d).crossJoin(nation(s, d))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  val q22CrossJoinSql: String =
    """SELECT r_name, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** UNION ALL with source tags (keeps duplicates, unlike q12's UNION). */
  def q23UnionAll(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .select(lit("customer").as("src"), col("c_nationkey").as("nk"))
    val sp = supplier(s, d)
      .select(lit("supplier").as("src"), col("s_nationkey").as("nk"))
    c.unionAll(sp)
      .groupBy(col("src"), col("nk"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("src"), col("nk"))
  }

  val q23UnionAllSql: String =
    """SELECT src, nk, COUNT(*) AS n
      |FROM (SELECT 'customer' AS src, c_nationkey AS nk FROM customer
      |      UNION ALL
      |      SELECT 'supplier' AS src, s_nationkey AS nk FROM supplier) t
      |GROUP BY src, nk
      |ORDER BY src, nk""".stripMargin

  /** Uncorrelated IN-subquery: orders from high-balance customers. */
  def q24InSubquery(s: SparkSession, d: String): DataFrame = {
    val rich = customer(s, d).filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"))
    val o = orders(s, d)
    o.join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q24InSubquerySql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** arg-min/arg-max per nation. acctbal values duplicate within a
    * nation at sf0.1, so the ordering key is an exact integer composite
    * (cents × 10^7 + custkey) — deterministic in both engines (DuckDB
    * 1.0's arg_max does not accept struct ordering keys).
    */
  def q25ArgMinMax(s: SparkSession, d: String): DataFrame = {
    // cents < 10^7, so cents * 10^11 + custkey is collision-free for
    // custkey < 10^11 and stays inside Long
    val key = round(col("c_acctbal") * 100).cast("long") * 100000000000L +
      col("c_custkey")
    customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(
        max_by(col("c_name"), key).as("richest"),
        min_by(col("c_name"), key).as("poorest"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("c_nationkey"))
  }

  val q25ArgMinMaxSql: String = {
    val key = "CAST(round(c_acctbal * 100) AS BIGINT) * 100000000000 + c_custkey"
    s"""SELECT c_nationkey,
       |  arg_max(c_name, $key) AS richest,
       |  arg_min(c_name, $key) AS poorest,
       |  ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin
  }

  /** Exact interpolated percentiles per returnflag, via the rank-window
    * formulation ([[Percentiles.exact]]) — same bit-exact answer as
    * Spark `percentile` / DuckDB `quantile_cont` without collecting
    * whole groups into aggregate buffers.
    */
  def q26Percentile(s: SparkSession, d: String): DataFrame =
    Percentiles.exactSelect(lineitem(s, d), "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p25" -> 0.25, "p75" -> 0.75))
      .orderBy(col("l_returnflag"))

  val q26PercentileSql: String =
    Percentiles.exactSql("lineitem", "l_returnflag", "l_extendedprice",
      Seq("p50" -> 0.5, "p25" -> 0.25, "p75" -> 0.75)) +
      "\nORDER BY l_returnflag"

  /** Sketch aggregates: HLL++ distinct counts and quantile sketches.
    * Sketch VALUES are engine-specific (HLL register layout, quantile
    * buffer), so the output carries the exact answers plus tolerance
    * INVARIANTS: booleans asserting each sketch landed within its error
    * bound. The oracle pins the exact columns and requires the booleans
    * TRUE — a broken sketch flips a boolean and fails the hash gate,
    * while the engine-specific raw sketch value stays out of the
    * compare. Relational2Spec additionally bounds the raw errors with
    * approx/exact values recomputed from scratch (independent of these
    * in-plan flags). At
    * 100 TB these sketches replace exact distinct/percentile where a
    * bounded error buys an order of magnitude less shuffle.
    */
  def q27Approx(s: SparkSession, d: String): DataFrame = {
    // sketches and exact-distinct run as SEPARATE aggregates: combining
    // countDistinct (Expand + sort-based fallback) with
    // TypedImperativeAggregate sketch buffers in one agg makes Spark
    // re-serialize the sketch buffers per row — measured 100x slower
    val sketches = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50"))
    val exactP50 = Percentiles.exactSelect(lineitem(s, d),
      "l_returnflag", "l_extendedprice", Seq("exact_p50" -> 0.5))
    val exact = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    sketches.join(broadcast(exactP50), "l_returnflag")
      .join(broadcast(exact), "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_p50"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= col("exact_orders") * 0.05).as("approx_orders_ok"),
        (abs(col("approx_p50") - col("exact_p50"))
          <= col("exact_p50") * 0.05).as("approx_p50_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q27ApproxSql: String =
    s"""SELECT l.l_returnflag,
       |  COUNT(DISTINCT l.l_orderkey) AS exact_orders,
       |  MAX(p.exact_p50) AS exact_p50,
       |  TRUE AS approx_orders_ok,
       |  TRUE AS approx_p50_ok
       |FROM lineitem l
       |JOIN (${Percentiles.exactSql("lineitem", "l_returnflag",
                  "l_extendedprice", Seq("exact_p50" -> 0.5))}) p
       |  ON l.l_returnflag = p.l_returnflag
       |GROUP BY l.l_returnflag
       |ORDER BY l.l_returnflag""".stripMargin

  /** The custom bounded-heap top-k operator (graft.plans.TopKPerGroup),
    * driver-gated against the equivalent window SQL: same rows, found
    * without sorting any group.
    */
  def q28TopkCustom(s: SparkSession, d: String): DataFrame =
    graft.plans.TopK.perGroup(
      orders(s, d), Seq("o_custkey"),
      struct(col("o_totalprice"), col("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey").desc)

  val q28TopkCustomSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |      FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey DESC""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("q27_approx",      q27Approx,     q27ApproxSql),
    Gated("q28_topk_custom", q28TopkCustom, q28TopkCustomSql),
    Gated("q21_pivot",       q21Pivot,      q21PivotSql),
    Gated("q22_cross_join",  q22CrossJoin,  q22CrossJoinSql),
    Gated("q23_union_all",   q23UnionAll,   q23UnionAllSql),
    Gated("q24_in_subquery", q24InSubquery, q24InSubquerySql),
    Gated("q25_argminmax",   q25ArgMinMax,  q25ArgMinMaxSql),
    Gated("q26_percentile",  q26Percentile, q26PercentileSql),
  )
}
