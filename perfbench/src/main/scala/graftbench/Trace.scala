package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are nanoseconds from the run's
  * origin; `parent` is the id of the innermost span open on the same
  * thread when this one started (-1 for a pass's top level).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    pass: Int, thread: Long, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. The benchmark wraps every call it makes
  * into a layer's public functions in [[Tracer.span]]; with tracing off
  * nothing is recorded and the wrapper is one branch. Spans are kept
  * until the run ends and written out once.
  */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  val origin: Long = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  @volatile var pass: Int = -1

  def now(): Long = System.nanoTime() - origin

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.synchronized { spans += null; spans.size - 1 }
      val stack = open.get()
      open.set(id :: stack)
      val start = now()
      try f
      finally {
        val end = now()
        open.set(stack)
        spans.synchronized {
          spans(id) = Span(id, stack.headOption.getOrElse(-1), layer, name,
            pass, Thread.currentThread().getId, start, end)
        }
      }
    }

  /** Record a span observed after the fact (start/end already known),
    * for work that happens inside a call the benchmark cannot wrap,
    * such as a refresh fired from a streaming sink's batch hook.
    */
  def record(layer: String, name: String, start: Long, end: Long): Unit =
    if (enabled) spans.synchronized {
      spans += Span(spans.size, -1, layer, name, pass,
        Thread.currentThread().getId, start, end)
    }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toList)

  /** Spans of one pass. A span opened on a thread with nothing open
    * (a streaming batch thread, or one recorded after the fact) gets as
    * parent the shortest span that encloses it in time: the caller's
    * thread waits inside that span while the work runs elsewhere.
    */
  def ofPass(p: Int): Seq[Span] = {
    val ss = all.filter(_.pass == p)
    ss.map { s =>
      if (s.parent >= 0) s
      else {
        val enclosing = ss.filter(o => o.id != s.id &&
          o.start <= s.start && o.end >= s.end && o.seconds > s.seconds)
        if (enclosing.isEmpty) s
        else s.copy(parent = enclosing.minBy(_.seconds).id)
      }
    }
  }
}
