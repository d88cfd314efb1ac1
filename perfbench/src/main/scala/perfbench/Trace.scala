package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call: `parent` is the id of the enclosing span (-1 at the top)
  * and `op` the operation it belongs to. Times are `System.nanoTime`.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the engine. Spans are kept in
  * memory and written out when the run ends. A disabled tracer only runs the
  * body, so the untraced runs that give the end-to-end numbers pay nothing.
  * Single-threaded: every timed call is made from the benchmark's thread.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  def opSpans(id: Int): Seq[Span] = spans.filter(_.op == id).toSeq

  /** Self time per span name within one operation: each span's duration
    * minus the time its direct children cover. Children of one span never
    * overlap (one thread), so the cover is the sum of their durations.
    */
  def selfTimes(id: Int): Map[String, Double] = {
    val ss = opSpans(id)
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, scala.jdk.CollectionConverters.SeqHasAsJava(lines.toSeq).asJava)
  }
}
