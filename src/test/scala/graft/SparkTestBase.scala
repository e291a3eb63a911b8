package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * `getOrCreate` the same one so ScalaTest parallelism is safe). It is
  * the session users get from [[GraftSession]], at 4 cores and 4
  * shuffle partitions.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.getOrCreate("local[4]", 4)
}
