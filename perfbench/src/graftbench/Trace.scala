package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One span: a named interval at a layer boundary. `op` ties together the
  * spans of one benchmark operation (a query call, an append, a fetch).
  * Times are milliseconds since the run started.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder; written once when the run ends. Disabled
  * tracers record nothing and cost one branch per boundary.
  */
final class Tracer(@volatile var active: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  @volatile var currentOp: Long = 0
  @volatile var currentSpan: Long = 0
  /** Called with (span, op) whenever the current span changes, so Spark
    * jobs can carry the span that launched them (see [[ExecProbe]]).
    */
  var onEnter: (Long, Long) => Unit = (_, _) => ()

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def epochToRunMs(epochMs: Long): Double = (epochMs - t0Epoch).toDouble

  /** An id for a span whose end is not known yet (see [[recordAs]]). */
  def reserveId(): Long = if (active) ids.incrementAndGet() else 0L

  def recordAs(id: Long, parent: Long, op: Long, name: String,
      startMs: Double, endMs: Double): Unit =
    if (active) spans.synchronized { spans += Span(id, parent, op, name, startMs, endMs) }

  /** Run `body` inside a span named `name`, child of the current span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = currentSpan
      val start = nowMs
      currentSpan = id
      onEnter(id, currentOp)
      try body
      finally {
        currentSpan = parent
        onEnter(parent, currentOp)
        val end = nowMs
        spans.synchronized { spans += Span(id, parent, currentOp, name, start, end) }
      }
    }

  /** Start a new operation: spans recorded inside `body` share its id. */
  def op[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val prev = currentOp
      currentOp = ids.incrementAndGet()
      try span(name)(body) finally currentOp = prev
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(s => (s.startMs, s.id)).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
