package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the probe side, replicate the build side.
  *
  * A shuffled equi-join hash-partitions both sides on the key; a hot key
  * sends its entire row population to ONE reducer — the classic straggler
  * at 100 TB. Salting splits each probe-side key into `salts` synthetic
  * sub-keys and replicates the matching build rows once per salt, so the
  * hot key's rows spread over `salts` tasks. Results are identical to
  * the plain join (the salt is dropped after the join).
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`)
  * handles moderate skew automatically; explicit salting is the tool
  * when a single key exceeds what one task can hold, or when the build
  * side is too big to broadcast but small enough to replicate `salts`×.
  */
object SkewJoin {

  private val SaltCol = "__graft_salt"

  /** Did AQE's `OptimizeSkewedJoin` actually SPLIT a hot partition in
    * this executed plan? Detected structurally: the rule's work product
    * is an `AQEShuffleReadExec` whose partition specs include
    * `PartialReducerPartitionSpec` (one reducer partition read in
    * slices by several tasks). Plan-STRING matching on "skew=true" is
    * rendering-dependent across Spark versions; the node types are the
    * contract. `SkewJoinSpec` pins the split with it; SCALING.md's
    * hot-key ladder row used the same check.
    */
  def planWasSkewSplit(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
    // hand-rolled walk: TreeNode.collect stops at QueryStageExec
    // (a LEAF wrapping its materialized sub-plan) and at
    // AdaptiveSparkPlanExec, so the interesting nodes are invisible
    // to it in any adapted plan
    def walk(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: AQEShuffleReadExec
          if r.partitionSpecs
            .exists(_.isInstanceOf[PartialReducerPartitionSpec]) => true
      case other => other.children.exists(walk)
    }
    walk(plan)
  }

  /** Inner equi-join `left ⋈ right ON left(key) = right(key)` with the
    * left (large, skewed) side salted into `salts` sub-keys.
    *
    * The salt must be DETERMINISTIC per row: a non-deterministic salt
    * (rand / monotonically_increasing_id) can re-salt rows into different
    * shuffle partitions when a map task is re-executed after a fetch
    * failure, dropping or duplicating join rows. `saltBy` names the
    * columns to hash for the salt — pass a unique row id when you have
    * one. When empty, ALL left columns are hashed; that is fully
    * deterministic, but rows that are bit-identical across every column
    * share a salt bucket (skew relief is then bounded by the number of
    * distinct rows under the hot key).
    */
  def salted(left: DataFrame, right: DataFrame, key: String,
      salts: Int, saltBy: Seq[Column] = Nil): DataFrame = {
    require(salts > 0)
    val saltSrc =
      if (saltBy.nonEmpty) saltBy
      else left.columns.toSeq.map(left(_))
    val saltedLeft = left.withColumn(SaltCol,
      pmod(xxhash64(saltSrc: _*), lit(salts.toLong)).cast("int"))
    val replicatedRight = right.withColumn(SaltCol,
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft
      .join(replicatedRight,
        saltedLeft(key) === replicatedRight(key) &&
          saltedLeft(SaltCol) === replicatedRight(SaltCol))
      .drop(SaltCol)
  }

  /** Convenience: top-N hottest keys of a column (the usual input for
    * deciding whether salting is warranted). Exact — shuffles every
    * distinct key; for the 100 TB pre-flight use [[skewReport]].
    */
  def keyHistogram(df: DataFrame, key: Column, topN: Int): DataFrame =
    df.groupBy(key.as("key")).count()
      .orderBy(col("count").desc, col("key"))
      .limit(topN)

  /** Skew pre-flight at scale: the heavy join keys and each one's
    * share of the frame, via the space-saving sketch
    * ([[graft.functions.SpaceSavingTopK]]) — ≤ `k` counters per
    * partition cross the shuffle, never the key space, so this runs
    * as a cheap scan-shaped pass over a 100 TB fact table BEFORE
    * committing to a join strategy. One row per sketch counter:
    * `(key, est, err, est_share)` with `est`/`est - err` bracketing
    * the key's true count and every key above fraction 1/k of the
    * rows guaranteed present. A key whose share approaches one task's
    * capacity is the [[salted]] candidate (salt factor ≈ est_share ×
    * shuffle partitions, rounded up). Composite keys join their parts
    * with \\u0001 (nulls rendered as a sentinel, so `(a, null)` cannot
    * collide with `(a, "")`). ONE scan: the sketch and the row count
    * come from the same aggregation.
    */
  def skewReport(df: DataFrame, keyCols: Seq[String], k: Int = 64): DataFrame = {
    require(keyCols.nonEmpty, "skewReport needs at least one key column")
    val keyed = df.select(
      concat_ws("\u0001",
        keyCols.map(c => coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
        .as("key"))
    graft.functions.SpaceSaving.unpacked(
      keyed.agg(graft.functions.SpaceSaving.topK(col("key"), k).as("sk"),
        count(lit(1)).as("n")), "n")
      .select(col("term").as("key"), col("est"), col("err"),
        (col("est").cast("double") / col("n").cast("double"))
          .as("est_share"))
  }
}
