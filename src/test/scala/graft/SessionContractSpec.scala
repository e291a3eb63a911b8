package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.RollingHash

/** Every entry point takes its session from [[GraftSession]]: the
  * configuration that is tested, verified and benched is the one users
  * get.
  */
class SessionContractSpec extends SparkTestBase {

  test("the shared test session is GraftSession's at 4 partitions") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // a fresh session state over the same context has had no runtime
    // `GraftExtensions.register`: the function resolves only because
    // the session was built with the engine's extensions
    assert(spark.newSession().sql("SELECT rolling_hash('x')").head()
      .getLong(0) == RollingHash.reference("x"))
  }

  test("GraftSession.getOrCreate(local[n], n) yields the bench contract") {
    // in a live JVM getOrCreate returns the one session and re-applies
    // its runtime SQL confs; knock them off first so the assertions
    // see what getOrCreate set, then restore the shared session
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val n = 3
      val s = GraftSession.getOrCreate(s"local[$n]", n)
      assert(s.conf.get("spark.sql.shuffle.partitions") == n.toString)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(s.sparkContext.uiWebUrl.isEmpty)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("GraftSession.getOrCreate on a live session re-registers no function") {
    // the session was built with the engine's extensions, so its
    // functions already exist: a second registration replaces each one
    // and logs a WARN per function
    val logger = org.apache.logging.log4j.LogManager.getLogger(
        classOf[org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry])
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-replaced", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) replaced.add(m)
      }
    }
    capture.start()
    logger.addAppender(capture)
    try GraftSession.getOrCreate("local[4]", 4)
    finally { logger.removeAppender(capture); capture.stop() }
    assert(replaced.isEmpty, s"re-registered: ${replaced.asScala.mkString("; ")}")
    assert(spark.sql("SELECT rolling_hash('x')").head().getLong(0) ==
      RollingHash.reference("x"))
  }

  test("only GraftSession.scala builds a SparkSession") {
    val call = """SparkSession\s*\.\s*builder""".r
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    def scalaFiles(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(Paths.get(d)))
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"),
      s"source tree not found from ${Paths.get("").toAbsolutePath}")
    val offenders = files
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(f => call.findFirstIn(
        comment.replaceAllIn(Files.readString(f), "")).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.getOrCreate, not in: " +
        offenders.map(_.toString).sorted.mkString(", "))
  }
}
