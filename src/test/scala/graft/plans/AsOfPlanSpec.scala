package graft.plans

import graft.SparkTestBase

class AsOfPlanSpec extends SparkTestBase {
  import spark.implicits._

  test("custom as-of exec agrees with a brute-force per-row scan on real events") {
    val rows = graft.operators.AsOfJoin.stAsofCustom(spark, sf0001).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got == graft.operators.Relational2Spec.asofBruteForce(spark, sf0001))
    assert(got.size == rows.length && got.nonEmpty)
    assert(rows.forall(r => r.getLong(5) == r.getLong(2) - r.getLong(3)))
  }

  test("custom as-of exec handles hand-built edges: equal ts, no prior build, key gaps") {
    val probe = Seq(
      (1L, 10L, 100L), // matches build at exactly ts=100 (inclusive)
      (2L, 10L, 50L),  // before every build row of key 10 → dropped
      (3L, 20L, 500L), // key with no build rows at all → dropped
      (4L, 30L, 300L)  // later than both build rows of key 30 → latest wins
    ).toDF("p_id", "p_key", "p_ts")
    val build = Seq(
      (101L, 10L, 100L),
      (102L, 30L, 100L),
      (103L, 30L, 200L)
    ).toDF("b_id", "b_key", "b_ts")
    val got = AsOf.join(probe, build, "p_key", "b_key", "p_ts", "b_ts")
      .select($"p_id", $"b_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 101L, 4L -> 103L))
  }

  test("custom as-of exec plans two sorted co-partitioned children, no union padding") {
    val p = graft.operators.AsOfJoin.stAsofCustom(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Union"), "custom path must not union-pad:\n" + p)
  }

  test("Events.asOfJoin nests the build row as asof, also when both sides share column names") {
    val trades = Seq(("a", 10L, 1.0), ("a", 25L, 2.0), ("b", 5L, 3.0), ("c", 7L, 4.0))
      .toDF("sym", "t", "px")
    val quotes = Seq(("a", 10L, 100.0), ("a", 20L, 101.0), ("b", 6L, 102.0), ("c", 1L, 103.0))
      .toDF("sym", "t", "bid")
    val got = graft.api.Events.asOfJoin(trades, quotes, "sym", "sym", "t", "t")
    assert(got.columns.toSeq == Seq("sym", "t", "px", "asof"))
    assert(got.select("asof.*").columns.toSeq == Seq("sym", "t", "bid"))
    val rows = got.select($"sym", $"t", $"px", $"asof.sym", $"asof.t", $"asof.bid")
      .as[(String, Long, Double, String, Long, Double)].collect().toSet
    // inclusive at equal ts, latest prior wins, no prior quote drops
    assert(rows == Set(("a", 10L, 1.0, "a", 10L, 100.0),
      ("a", 25L, 2.0, "a", 20L, 101.0), ("c", 7L, 4.0, "c", 1L, 103.0)))
  }

  test("forward as-of: earliest at-or-after match; consecutive probes share one future row") {
    import spark.implicits._
    val probe = Seq(
      (1L, 10L, 50L),  // before both build rows → matches ts 100
      (2L, 10L, 100L), // exactly at → inclusive match at 100
      (3L, 10L, 150L), // between → matches 200
      (4L, 10L, 250L), // after everything → drops
      (5L, 20L, 0L)    // key with no build rows → drops
    ).toDF("p_id", "p_key", "p_ts")
    val build = Seq(
      (101L, 10L, 100L),
      (102L, 10L, 200L),
      (103L, 30L, 100L)
    ).toDF("b_id", "b_key", "b_ts")
    val got = AsOf.joinForward(probe, build, "p_key", "b_key", "p_ts", "b_ts")
      .select($"p_id", $"b_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probes 1 AND 2 both match build 101 — the peeked row is shared
    assert(got == Map(1L -> 101L, 2L -> 101L, 3L -> 102L))
  }

  test("forward and backward agree with each other on symmetric data") {
    import spark.implicits._
    // build at every ts; forward from ts and backward from the SAME ts
    // onto an exact-hit build row must both pick it
    val probe = Seq((1L, 1L, 100L), (2L, 1L, 200L)).toDF("p_id", "p_key", "p_ts")
    val build = Seq((11L, 1L, 100L), (12L, 1L, 200L)).toDF("b_id", "b_key", "b_ts")
    val fwd = AsOf.joinForward(probe, build, "p_key", "b_key", "p_ts", "b_ts")
      .select($"p_id", $"b_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bwd = AsOf.join(probe, build, "p_key", "b_key", "p_ts", "b_ts")
      .select($"p_id", $"b_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fwd === bwd && fwd === Map(1L -> 11L, 2L -> 12L))
  }
}
