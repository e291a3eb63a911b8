package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, a job, a DFS verb or a refresh night. */
final case class OpResult(pass: Int, name: String, seconds: Double,
    ok: Boolean)

/** What a workload pass runs against, and where its timings go. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val inputs: String, val work: String) {

  val ops = ArrayBuffer.empty[OpResult]
  val errors = ArrayBuffer.empty[String]
  /** Seconds of the current pass spent on output checks, which the pass
    * time leaves out.
    */
  var untimedSeconds = 0.0
  /** Named per-pass quantities a workload reports besides spans. */
  val gauges = scala.collection.mutable.Map.empty[String, Double]
  var probe: Option[SparkProbe] = None

  /** Run and time one operation. A failure is logged with the
    * operation's name and counted; the pass goes on with the next one.
    */
  def op(layer: String, name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(layer, name)(f); true }
      catch {
        case e: Throwable =>
          val msg = s"$name: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] op failed: $msg")
          errors += msg
          false
      }
    ops += OpResult(tracer.pass, name, (System.nanoTime() - t0) / 1e9, ok)
  }

  /** Work inside a pass that is not part of what the pass measures:
    * output checks. Its wall time is subtracted from the pass.
    */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally untimedSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Record a failed output check against operation `name`. */
  def wrong(name: String, why: String): Unit = {
    val msg = s"$name: wrong output: $why"
    System.err.println(s"[perfbench] check failed: $msg")
    errors += msg
    val i = ops.lastIndexWhere(o => o.name == name && o.ok)
    if (i >= 0) ops(i) = ops(i).copy(ok = false)
  }

  def gauge(k: String, v: Double): Unit =
    gauges(k) = gauges.getOrElse(k, 0.0) + v

  /** Spark counters around `f`, in a traced pass only (the wait for the
    * listener bus is itself a span, so it shows as tracing cost).
    */
  def sparkDelta(f: => Unit): Map[String, Long] = probe match {
    case Some(p) if tracer.enabled =>
      val a = tracer.span("trace", "drain")(p.snapshot())
      f
      val b = tracer.span("trace", "drain")(p.snapshot())
      b.map { case (k, v) => k -> (v - a(k)) }
    case _ => f; Map.empty
  }
}
