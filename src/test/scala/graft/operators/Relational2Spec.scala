package graft.operators

import graft.SparkTestBase

class Relational2Spec extends SparkTestBase {

  test("sketch aggregates stay within their error bounds vs exact answers") {
    // q27Approx computes the |approx − exact| ≤ 5% check in-plan and
    // emits it as boolean columns (so the DuckDB oracle can gate it);
    // the spec asserts every group is in bounds.
    val rows = Relational2.q27Approx(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"HLL out of bounds for group ${r.get(0)}")
      assert(r.getBoolean(4), s"approx percentile out of bounds for group ${r.get(0)}")
    }
  }

  test("raw sketch errors are bounded, independently of the in-plan tolerance flags") {
    // recomputed from scratch so a bug in q27Approx's own tolerance
    // expressions cannot vouch for itself
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val approx = li.groupBy(col("l_returnflag")).agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("a_n"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a_p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exactN = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("e_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactP = Percentiles.exact(li, "l_returnflag", "l_extendedprice",
      Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx.nonEmpty)
    approx.foreach { case (g, (aN, aP)) =>
      // rsd=0.01 is one standard deviation; 3 sigma is the sane bound
      assert(math.abs(aN - exactN(g)).toDouble / exactN(g) < 0.03,
        s"HLL error too large for $g: $aN vs ${exactN(g)}")
      assert(math.abs(aP - exactP(g)) / exactP(g) < 0.05,
        s"approx percentile off for $g: $aP vs ${exactP(g)}")
    }
  }

  test("distributed-selection percentiles are bitwise-equal to the rank-window form") {
    val ps = Seq("p50" -> 0.5, "p25" -> 0.25, "p75" -> 0.75, "p99" -> 0.99)
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val win = Percentiles.exact(li, "l_returnflag", "l_extendedprice", ps)
      .collect().map(r => r.getString(0) ->
        (1 to ps.length).map(i => java.lang.Double.doubleToLongBits(r.getDouble(i)))).toMap
    val sel = Percentiles.exactSelect(li, "l_returnflag", "l_extendedprice", ps)
      .collect().map(r => r.getString(0) ->
        (1 to ps.length).map(i => java.lang.Double.doubleToLongBits(r.getDouble(i)))).toMap
    assert(sel == win)
    assert(sel.nonEmpty)
  }

  test("distributed-selection percentiles handle single-row and constant groups") {
    import spark.implicits._
    val df = Seq(("a", 5.0), ("b", 2.0), ("b", 2.0), ("b", 2.0),
      ("c", 1.0), ("c", 4.0)).toDF("g", "v")
    val got = Percentiles.exactSelect(df, "g", "v", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 5.0, "b" -> 2.0, "c" -> 2.5))
  }

  test("as-of join composition agrees with a brute-force per-row scan") {
    val got = AsOfJoin.stAsofJoin(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got == Relational2Spec.asofBruteForce(spark, sf0001))
    assert(got.nonEmpty)
  }

  test("column profile counts nulls and distincts on a frame with gaps") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (null, "b"), (2L, null), (3L, "b"))
      .toDF("k", "s")
    val got = Relational4.columnProfile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5))).toMap
    assert(got("k") == ((5L, 4L, 3L, "1", "3")))
    assert(got("s") == ((5L, 4L, 2L, "a", "b")))
  }
}

object Relational2Spec {

  /** The as-of purchase → latest prior view pairing by brute force: for
    * every purchase, scan all views of the user. `event_id ->
    * (view_us, view_event_id)`, the latter the max id at that µs.
    */
  def asofBruteForce(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[Long, (Long, Long)] = {
    val ev = graft.sources.Tables.events(spark, dir)
      .selectExpr("event_id", "user_id", "event_type", "ts_ns DIV 1000 AS ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val views = ev.filter(_._3 == "view")
    val purchases = ev.filter(_._3 == "purchase")
    purchases.flatMap { case (pid, u, _, pts) =>
      val prior = views.filter(v => v._2 == u && v._4 <= pts)
      if (prior.isEmpty) None
      else {
        val bestTs = prior.map(_._4).max
        val bestId = prior.filter(_._4 == bestTs).map(_._1).max
        Some(pid -> (bestTs, bestId))
      }
    }.toMap
  }
}
