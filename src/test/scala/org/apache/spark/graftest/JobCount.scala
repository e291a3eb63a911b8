package org.apache.spark.graftest

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches from the calling thread (and
  * the threads it spawns, which inherit its local properties), so
  * suites running beside it cannot inflate the count. The listener bus
  * is drained before and after the block: every job start it posted is
  * counted, and none from before it. The bus's wait is package-private
  * to Spark, hence this package.
  */
object JobCount {
  private val Tag = "graft.test.jobCount"

  def apply(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag))
          jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try body
    finally {
      sc.setLocalProperty(Tag, outer)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
