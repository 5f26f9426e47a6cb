package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One traced interval. `parent` is 0 for a root span; every span of
  * one request carries the root's `req`. Times are System.nanoTime.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder around calls into graft's layers. Off (the
  * default) it only runs the body, so the untraced run that yields the
  * end-to-end metrics pays one volatile read per call site.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private final class Open(val id: Long, val req: Long)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Open]](
    () => new java.util.ArrayDeque[Open]())

  /** Id of the innermost open span on this thread, 0 if none. */
  def current: Long = { val o = stack.get().peek(); if (o == null) 0L else o.id }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val st = stack.get()
      val parent = st.peek()
      val id = ids.incrementAndGet()
      val o = new Open(id, if (parent == null) id else parent.req)
      val t0 = System.nanoTime()
      st.push(o)
      try body
      finally {
        st.pop()
        done.add(Span(id, if (parent == null) 0L else parent.id, o.req, name,
          t0, System.nanoTime()))
      }
    }

  /** Run `body` on the global pool, recorded as a child of the span
    * open here.
    */
  def async[T](name: String)(body: => T): scala.concurrent.Future[T] = {
    val parent = current; val req = currentReq
    scala.concurrent.Future {
      val t0 = System.nanoTime()
      try body finally record(name, parent, req, t0, System.nanoTime())
    }(scala.concurrent.ExecutionContext.global)
  }

  def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** A span timed elsewhere (Spark stages, from the listener thread). */
  def record(name: String, parent: Long, req: Long, start: Long, end: Long): Unit =
    if (on) done.add(Span(ids.incrementAndGet(), parent, req, name, start, end))

  /** Request id of the innermost open span on this thread, 0 if none. */
  def currentReq: Long = { val o = stack.get().peek(); if (o == null) 0L else o.req }

  def spans: Vector[Span] = {
    val b = Vector.newBuilder[Span]
    done.forEach(s => b += s)
    b.result()
  }

  /** Total duration and total self time (duration minus the union of
    * its children's intervals) per span name, in nanoseconds.
    */
  def totals(all: Seq[Span]): Map[String, (Long, Long, Int)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val dur = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a >= hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        (s.end - s.start) - covered
      }.sum
      name -> (dur, self, ss.size)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
