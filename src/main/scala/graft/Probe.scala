package graft

/** Result-inspection main for scale probes: runs the named queries
  * against `SPARK_GRAFT_SF_DIR` and prints their rows — the tool behind
  * SCALING.md's recall-vs-scale tables (Bench times queries but never
  * shows results; Verify dumps them all — this runs just the named ones).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.Probe sim_pq sim_ivfpq"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      println(s"== $name @ $sfDir ==")
      SparkEntry.queries(name)(spark, sfDir).show(200, truncate = false)
    }
    spark.stop()
  }
}
