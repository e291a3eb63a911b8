package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** As-of join as a first-class operator — the full custom path
  * (logical BinaryNode → Strategy → physical exec), the engine's one
  * as-of join (reference has no joins at all, SURVEY.md §2e; this is
  * north-star surface).
  *
  * The window composition it replaced unioned both sides and ran an
  * `ignoreNulls last` window — one shuffle of the UNION, carrying
  * null-padded struct columns for every row. This exec instead declares
  * `ClusteredDistribution` on each side's key and per-child `(key, ts)`
  * ordering, so Catalyst plans two exchanges + two sorts WITHOUT the
  * union padding, and a single merge pass per co-partition pairs each
  * probe row with the latest build row at or before it — O(|probe| +
  * |build|) per partition, O(1) state (the one remembered build row).
  * Inner semantics: probes with no prior build row are dropped.
  */
case class AsOfJoinPlan(
    probeKey: Expression, buildKey: Expression,
    probeTs: Expression, buildTs: Expression,
    left: LogicalPlan, right: LogicalPlan,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan =
    copy(left = l, right = r)
}

object AsOfStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(pk, bk, pts, bts, l, r, fwd) =>
      AsOfJoinExec(pk, bk, pts, bts, planLater(l), planLater(r), fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    probeKey: Expression, buildKey: Expression,
    probeTs: Expression, buildTs: Expression,
    left: SparkPlan, right: SparkPlan,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output
  override def outputPartitioning: Partitioning = left.outputPartitioning

  // co-partition both sides on their keys; EnsureRequirements inserts
  // the exchanges (and aligns partition counts) exactly as for a
  // sort-merge join
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(probeKey :: Nil) ::
      ClusteredDistribution(buildKey :: Nil) :: Nil

  // each side arrives sorted by (key, ts) — the merge is then one pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(probeKey, Ascending), SortOrder(probeTs, Ascending)) ::
      Seq(SortOrder(buildKey, Ascending), SortOrder(buildTs, Ascending)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val pOut = left.output
    val bOut = right.output
    val pk = probeKey
    val bk = buildKey
    val pts = probeTs
    val bts = buildTs
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (pIt, bIt) =>
      // single-column key/ts rows compared with a generated ordering —
      // works for any orderable key type
      val pKeyProj = UnsafeProjection.create(Seq(pk), pOut)
      val bKeyProj = UnsafeProjection.create(Seq(bk), bOut)
      val pTsProj = UnsafeProjection.create(Seq(pts), pOut)
      val bTsProj = UnsafeProjection.create(Seq(bts), bOut)
      val keyOrd = org.apache.spark.sql.catalyst.expressions.codegen
        .LazilyGeneratedOrdering.forSchema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", pk.dataType))))
      val tsOrd = org.apache.spark.sql.catalyst.expressions.codegen
        .LazilyGeneratedOrdering.forSchema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("t", pts.dataType))))
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow

      val build = bIt.buffered
      val fwd = forward

      if (fwd) {
        // FORWARD: the earliest build row with ts >= the probe's, same
        // key. The match is PEEKED, never consumed — several probes can
        // share one future build row; rows are only consumed once every
        // remaining probe's ts is provably past them (probes ascend).
        pIt.flatMap { pRow =>
          val pKey = pKeyProj(pRow)
          val pTs = pTsProj(pRow)
          var advancing = true
          while (advancing && build.hasNext) {
            val bRow = build.head
            val bKey = bKeyProj(bRow)
            val kCmp = keyOrd.compare(bKey, pKey)
            if (kCmp < 0) build.next()
            else if (kCmp == 0 && tsOrd.compare(bTsProj(bRow), pTs) < 0)
              build.next()
            else advancing = false
          }
          if (build.hasNext &&
              keyOrd.compare(bKeyProj(build.head), pKey) == 0)
            Iterator.single(outProj(joined(pRow, build.head)))
          else Iterator.empty
        }
      } else {
      // the remembered build row: latest (key, ts) <= current probe
      var heldKey: InternalRow = null
      var heldRow: InternalRow = null

      pIt.flatMap { pRow =>
        val pKey = pKeyProj(pRow)
        val pTs = pTsProj(pRow)
        // advance the build side through every row at or before
        // (pKey, pTs); remember the last one with a matching key
        var advancing = true
        while (advancing && build.hasNext) {
          val bRow = build.head
          val bKey = bKeyProj(bRow)
          val kCmp = keyOrd.compare(bKey, pKey)
          if (kCmp < 0) {
            build.next() // behind on key: skip (its probes already went)
          } else if (kCmp == 0 && tsOrd.compare(bTsProj(bRow), pTs) <= 0) {
            heldKey = bKey.copy()
            heldRow = bRow.copy() // iterator reuses row buffers
            build.next()
          } else {
            advancing = false
          }
        }
        if (heldRow != null && keyOrd.compare(heldKey, pKey) == 0)
          Iterator.single(outProj(joined(pRow, heldRow)))
        else Iterator.empty
      }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec =
    copy(left = l, right = r)
}

object AsOf {

  /** As-of join through the custom operator: for every probe row, the
    * build row with the greatest `buildTs <= probeTs` within the same
    * key; probes with no prior build row drop (inner semantics,
    * checked against a brute-force scan in `AsOfPlanSpec`). Column
    * names across the two sides must be distinct ([[joinNested]] lifts
    * that). NULL keys group together and match each other (grouping
    * semantics) — not SQL equality, which would drop them.
    */
  def join(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame = {
    val spark = probe.sparkSession
    ensureRegistered(spark)
    val plan = AsOfJoinPlan(
      UnresolvedAttribute(probeKey), UnresolvedAttribute(buildKey),
      UnresolvedAttribute(probeTs), UnresolvedAttribute(buildTs),
      ColumnBridge.logicalPlan(probe), ColumnBridge.logicalPlan(build))
    ColumnBridge.dataFrame(spark, plan)
  }

  /** [[join]] with the matched build row nested: the probe's columns
    * plus an `asof` struct of the build row under its own column names,
    * so the two sides may share names (`sym`, `t` on both). The build
    * columns cross the exec prefixed and are re-nested after it.
    */
  def joinNested(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct}
    val b = "__asof_"
    join(probe, build.select(build.columns.map(c => col(c).as(b + c)).toIndexedSeq: _*),
        probeKey, b + buildKey, probeTs, b + buildTs)
      .select(probe.columns.map(col).toIndexedSeq :+ struct(build.columns
        .map(c => col(b + c).as(c)).toIndexedSeq: _*).as("asof"): _*)
  }

  /** FORWARD as-of join through the same exec: for every probe row,
    * the build row with the SMALLEST `buildTs >= probeTs` within the
    * same key ("what happened next") — the time-mirrored contract of
    * [[join]], same co-partitioned one-pass merge, except the match is
    * peeked rather than consumed because consecutive probes may share
    * one future build row. Keep the build side unique per (key, ts)
    * (pre-aggregate ties) for a deterministic pick.
    */
  def joinForward(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, probeTs: String, buildTs: String): DataFrame = {
    val spark = probe.sparkSession
    ensureRegistered(spark)
    val plan = AsOfJoinPlan(
      UnresolvedAttribute(probeKey), UnresolvedAttribute(buildKey),
      UnresolvedAttribute(probeTs), UnresolvedAttribute(buildTs),
      ColumnBridge.logicalPlan(probe), ColumnBridge.logicalPlan(build),
      forward = true)
    ColumnBridge.dataFrame(spark, plan)
  }

  def ensureRegistered(spark: SparkSession): Unit =
    ColumnBridge.registerStrategy(spark, AsOfStrategy)
}
