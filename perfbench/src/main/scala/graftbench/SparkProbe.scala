package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.graftbench.ListenerDrain

/** Runtime counters of the Spark layer, gathered through Spark's public
  * listener interfaces: a [[SparkListener]] for jobs, stages and task
  * metrics, and a [[QueryExecutionListener]] for the Catalyst phase
  * times of every action. Registered only in a traced run.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val c = mutable.LinkedHashMap(Seq(
    "jobs", "stages", "tasks", "failed_tasks", "task_run_ns", "task_cpu_ns",
    "sched_delay_ms", "gc_ms", "spill_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_records", "fetch_wait_ms", "input_bytes",
    "output_bytes", "analysis_ms", "optimization_ms", "planning_ms",
    "actions").map(_ -> new AtomicLong(0L)): _*)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ns", m.executorRunTime * 1000000L)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      // scheduler delay as the Spark UI defines it: the part of a
      // task's wall time spent neither deserializing, running nor
      // shipping its result
      val wall = e.taskInfo.duration
      add("sched_delay_ms", math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
          e.taskInfo.gettingResultTime else 0L)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    add("actions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
    }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Counter values once every event posted so far has been handled. */
  def snapshot(): Map[String, Long] = {
    ListenerDrain.drain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get }.toMap
  }
}

/** What the block manager holds for persisted and locally checkpointed
  * relations: the session caches' artifacts live there.
  */
object StorageProbe {
  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
