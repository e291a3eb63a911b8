package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** Fifth relational tranche: exact distributed second-moment statistics
  * (correlation / covariance), relational reshaping (UNPIVOT/melt), and
  * bitwise aggregates.
  */
object Relational5 {

  /** Per-group Pearson correlation and population covariance of
    * (l_quantity, l_extendedprice), computed from EXACT moments.
    *
    * `corr()`/`covar_pop()` built-ins stream doubles, so their result
    * depends on partition order — fine in production, but not
    * hash-comparable across engines (and at 100 TB the streaming form
    * also loses precision: Σxy ~ 1e16 swamps per-row increments). Here
    * the five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    * fixed-point limb sums — order-insensitive, overflow-safe, inside
    * whole-stage codegen — and only the final closed-form formula runs
    * in IEEE doubles: the same literal expression in both engines, so
    * every intermediate double is bit-identical. Scale 3 keeps the
    * per-row product `price²` (~1e10 → 1e16 unscaled) inside a long.
    * One shuffle; the moment aggregation has map-side partials.
    */
  def q44CorrExact(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val nd = count(lit(1)).cast("double")
    val sx = dsumN(x, 3)
    val sy = dsumN(y, 3)
    val sxy = dsumProdN(x, y, 3)
    val sxx = dsumProdN(x, x, 3)
    val syy = dsumProdN(y, y, 3)
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        ((nd * sxy - sx * sy) /
          (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)))
          .as("corr_qty_price"),
        ((nd * sxy - sx * sy) / (nd * nd)).as("covar_pop"),
        (sqrt(nd * sxx - sx * sx) / nd).as("stddev_pop_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q44CorrExactSql: String = {
    val nd = "CAST(COUNT(*) AS DOUBLE)"
    val sx = dsumNSql("l_quantity", 3)
    val sy = dsumNSql("l_extendedprice", 3)
    val sxy = dsumProdNSql("l_quantity", "l_extendedprice", 3)
    val sxx = dsumProdNSql("l_quantity", "l_quantity", 3)
    val syy = dsumProdNSql("l_extendedprice", "l_extendedprice", 3)
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  (($nd * $sxy - $sx * $sy) /
       |    (sqrt($nd * $sxx - $sx * $sx) * sqrt($nd * $syy - $sy * $sy)))
       |    AS corr_qty_price,
       |  (($nd * $sxy - $sx * $sy) / ($nd * $nd)) AS covar_pop,
       |  (sqrt($nd * $sxx - $sx * $sx) / $nd) AS stddev_pop_qty
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** UNPIVOT/melt: a wide per-flag aggregate reshaped to long
    * (flag, measure, val) — the report-to-tidy transform. Spark's
    * `unpivot` lowers to Expand (one pass, no join/union of scans);
    * the DuckDB mirror is its native UNPIVOT.
    */
  def q45Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty"), col("sum_price"), col("n")),
        variableColumnName = "measure",
        valueColumnName = "val")
      .orderBy(col("l_returnflag"), col("measure"))

  val q45UnpivotSql: String =
    s"""WITH wide AS (
       |  SELECT l_returnflag,
       |    ${dsumSql("l_quantity")} AS sum_qty,
       |    ${dsumSql("l_extendedprice")} AS sum_price,
       |    CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, measure, val
       |FROM (UNPIVOT wide ON sum_qty, sum_price, n INTO NAME measure VALUE val)
       |ORDER BY l_returnflag, measure""".stripMargin

  /** Bitwise aggregates over the order keys by priority — AND/OR/XOR
    * are commutative+associative, so Spark's partial/final split gives
    * the same bits as DuckDB's sequential fold. XOR of a key set is the
    * classic distributed set-reconciliation fingerprint (two replicas
    * XOR their keys; equal fingerprints ⇒ equal sets with high
    * probability when keys are hashed).
    */
  def q46BitAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(bit_and(col("o_orderkey")).as("key_and"),
        bit_or(col("o_orderkey")).as("key_or"),
        bit_xor(col("o_orderkey")).as("key_xor"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q46BitAggSql: String =
    """SELECT o_orderpriority,
      |  bit_and(o_orderkey) AS key_and,
      |  bit_or(o_orderkey) AS key_or,
      |  bit_xor(o_orderkey) AS key_xor,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("q44_corr_exact", q44CorrExact, q44CorrExactSql),
    Gated("q45_unpivot",    q45Unpivot,   q45UnpivotSql),
    Gated("q46_bit_agg",    q46BitAgg,    q46BitAggSql),
  )
}
