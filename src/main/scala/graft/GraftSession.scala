package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for engine users: UTC, AQE (with skew-join
  * handling), right-sized shuffle partitions for the deploy target, and
  * the engine's SQL functions + planner strategy pre-registered.
  *
  * On a real cluster, `shufflePartitions` should be ~2-3× total executor
  * cores (and AQE coalesces down); `local[n]` development wants n.
  *
  * Every entry point — `Bench`, `Verify`, `Probe`, `Explain`, the test
  * base and perfbench — takes its session from [[getOrCreate]], so the
  * configuration that is tested and benched is the one users get.
  */
object GraftSession {

  private def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOT set here: spark.sql.optimizer.runtime.bloomFilter.enabled —
      // already true by Spark default (10 GB fact-scan threshold), and
      // PlanAuditSpec pins that the injection actually fires. This is
      // the bloom filter the reference declared and never built
      // (`dfs/controller/controller.go:686-688`).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** Build (or reuse) the session and finish runtime registration —
    * idempotent, safe on a session that already exists (where
    * `withExtensions` would be ignored).
    */
  def getOrCreate(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftExtensions.register(spark)
    graft.plans.TopK.ensureRegistered(spark)
    spark
  }
}
