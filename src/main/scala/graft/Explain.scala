package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all by default) so scan pushdown (`PushedFilters`, `ReadSchema`),
  * join strategies (`BroadcastHashJoin` vs `SortMergeJoin`) and
  * `WholeStageCodegen` spans can be reviewed — the "is this the plan
  * you'd want at 100 TB" loop.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.getOrCreate("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      try println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
